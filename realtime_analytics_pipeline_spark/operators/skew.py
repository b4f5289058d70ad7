"""Skew-resilient aggregation: two-phase salted group-by.

At 100 TB a handful of hot keys (one viral event_type, one bot
device_category) concentrate a shuffle partition onto one reducer.
AQE's skew handling covers joins but NOT aggregations — the fix for
aggs is salting: pre-aggregate on (key, salt), then merge partials per
key. Shuffle #1 spreads each hot key over ``salts`` reducers; shuffle
#2 moves only ``salts`` partial rows per key.

Works for any algebraic aggregate (count/sum/min/max and their
compositions: avg = sum/count). Exact distinct is NOT algebraic — for
that, group on (key, member) first, so the member column itself
spreads the key (the batch COUNT DISTINCT plan does this), or keep a
mergeable set per key as ``event_metrics_exact_streaming`` does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str | Column],
    partials: dict[str, Column],
    finals: dict[str, Column],
    salt_col: str | Column = "event_id",
    salts: int = 16,
) -> DataFrame:
    """Two-phase salted group-by.

    ``partials``: name -> aggregate over raw rows (phase 1, keyed by
    keys + salt). ``finals``: name -> aggregate over the partial
    columns (phase 2, keyed by keys). The salt derives from a data
    column hash — deterministic, no RNG.
    """
    salt = F.pmod(
        F.xxhash64(F.col(salt_col) if isinstance(salt_col, str) else salt_col),
        F.lit(salts),
    ).alias("_salt")
    phase1 = df.groupBy(*keys, salt).agg(
        *[c.alias(name) for name, c in partials.items()]
    )
    # phase 2 groups by the MATERIALIZED key columns (e.g. `window`),
    # not the original expressions, which may reference pre-agg columns
    key_out = [c for c in phase1.columns if c != "_salt" and c not in partials]
    return phase1.groupBy(*key_out).agg(
        *[c.alias(name) for name, c in finals.items()]
    )


def salted_event_counts(events: DataFrame, window: str = "60 seconds") -> DataFrame:
    """EventAggregator counts with a salted hot-key-proof plan; result
    is identical to the direct group-by (proved against the same
    oracle in the driver gate)."""
    win = F.window("event_time", window)
    out = salted_aggregate(
        events,
        keys=[win, "event_type"],
        partials={"cnt": F.count(F.lit(1))},
        finals={"event_count": F.sum("cnt")},
        salt_col="event_id",
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "event_count",
    )
