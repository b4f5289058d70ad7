"""Storage layout operators: the Z-order (Morton) key.

The reference's at-rest layout is ClickHouse MergeTree with
``ORDER BY (window_start, key)`` (ddl.py:11,24,35). The Spark-native
equivalents, in increasing strength:

1. partition + sortWithinPartitions parquet (streaming sink,
   streaming/sinks.py) — pruning on the partition key, clustered rows
   inside files for scan locality;
2. bucketed tables (``DataFrameWriter.bucketBy``) — pre-shuffled
   storage by join key: two tables bucketed identically join with ZERO
   exchange. At 100 TB this is the difference between re-shuffling a
   fact table per query and never shuffling it at all.

This module adds a Z-order (Morton) key: files range-split on it carry
footer min/max statistics that prune on two columns at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def zorder_key_int(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Append a Z-order (Morton) key ``__zkey`` over INTEGER ``cols``:
    each column is scaled to a ``bits``-wide code and the bit planes are
    interleaved, so rows close in the key are close in EVERY listed
    dimension at once. A linear sort gives perfect file skipping on its
    leading column and none on the others; files range-split on the
    Z-order key skip partially on all of them.

    code_c = ((v − min) · 2^bits) div (max − min + 1) — pure integer
    division, exact in any engine, so a cross-engine hash compares it.
    Pure Column arithmetic (shifts/masks, no UDF); the bounds are a
    broadcast 1-row aggregate.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(F.col(c)).cast("long").alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c)).cast("long").alias(f"__mx_{c}") for c in cols],
    )
    scaled = df.crossJoin(F.broadcast(bounds))
    codes = [
        F.expr(
            f"(({c} - __mn_{c}) * {1 << bits})"
            f" div (__mx_{c} - __mn_{c} + 1)"
        )
        for c in cols
    ]
    n = len(cols)
    terms = [
        F.shiftleft(
            F.shiftright(codes[i], b).bitwiseAND(F.lit(1)), b * n + i
        )
        for i in range(n)
        for b in range(bits)
    ]
    zkey = reduce(lambda a, t: a + t, terms[1:], terms[0])
    return scaled.withColumn("__zkey", zkey).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )
