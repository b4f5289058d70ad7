"""Mergeable-sketch aggregation (Apache DataSketches HLL via Spark's
built-in hll_* functions, public API since Spark 3.5).

The pattern that makes serving tables work at 100 TB: store a SKETCH
per fine-grained cell (1-minute window × event type), because sketches
UNION losslessly — any coarser rollup (hour, day, all-types) is a
cheap `hll_union_agg` over the stored binaries, never a re-scan of the
raw events. Exact distinct counts cannot do this (distinct is not
decomposable); this is the standard trade: ±~2% error (lgConfigK=12)
for mergeability + O(KB) per cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_minute_sketches(events: DataFrame, lgk: int = 12) -> DataFrame:
    """Per (1-minute window, event_type): event count + HLL sketch of
    user ids (binary, mergeable). This is the STORED serving table."""
    return (
        events.groupBy(
            F.window("event_time", "60 seconds").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.hll_sketch_agg("user_id", F.lit(lgk)).alias("user_sketch"),
        )
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "event_count",
            "user_sketch",
        )
    )


def hll_rollup_hour(minute_sketches: DataFrame) -> DataFrame:
    """1-minute sketch cells -> hourly distinct-user estimates per
    type, via lossless sketch union — no raw-event re-scan."""
    hour_ms = (
        (F.col("window_start_ms") / F.lit(3600000)).cast("long")
        * F.lit(3600000)
    ).alias("hour_ms")
    return (
        minute_sketches.select(hour_ms, "event_type", "event_count", "user_sketch")
        .groupBy("hour_ms", "event_type")
        .agg(
            F.sum("event_count").alias("event_count"),
            F.hll_sketch_estimate(
                F.hll_union_agg("user_sketch")
            ).alias("approx_users"),
        )
    )


def cm_build(items: DataFrame, key_col: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Count-min sketch as a TABLE: (row, bucket) -> count, built with
    one explode + one aggregation (JVM-side xxhash64 per row seed).

    Like the HLL cells, the sketch is MERGEABLE — two sketches of the
    same geometry union by summing bucket counts — so per-partition /
    per-day sketches roll up without re-scanning raw data. Size is
    bounded at depth × width rows regardless of input cardinality."""
    seeds = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1)).cast("array<int>")
    ).alias("r")
    return (
        items.select(F.col(key_col).alias("k"))
        .select("k", seeds)
        .select(
            "r",
            F.pmod(F.xxhash64("r", "k"), F.lit(width)).cast("int").alias(
                "bucket"
            ),
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point estimates for a set of keys: min over rows of the bucket
    count — the classic overestimate-only guarantee
    (est ≥ true; est ≤ true + εN w.h.p.). The sketch side is tiny
    (≤ depth × width rows) and broadcasts."""
    seeds = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1)).cast("array<int>")
    ).alias("r")
    probes = (
        keys.select(F.col(key_col).alias("k"))
        .distinct()
        .select("k", seeds)
        .select(
            "k",
            "r",
            F.pmod(F.xxhash64("r", "k"), F.lit(width)).cast("int").alias(
                "bucket"
            ),
        )
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
        .select(F.col("k").alias(key_col), "est_count")
    )


def sliding_users_paned_hll(
    events: DataFrame, panes_per_window: int = 5, lgk: int = 12
) -> DataFrame:
    """Hopping-window DISTINCT-user estimates via pane sketches — the
    sketch analog of the paned count optimization: COUNT over panes is
    exactly mergeable (sum), DISTINCT is not, but HLL sketches are.
    Each event feeds ONE pane sketch; each 5m window unions its 5 pane
    sketches (KB each) instead of replicating every event 5×. At
    100 TB the naive sliding exact-distinct shuffles 5× the raw
    stream; this shuffles it once plus a windows×types sketch rollup.
    Approximate by construction (registered rows-only; accuracy pinned
    vs exact sliding distinct in pytest)."""
    pane_ms = 60000
    window_ms = pane_ms * panes_per_window
    panes = (
        events.groupBy(
            F.window("event_time", "60 seconds").alias("w"), "event_type"
        )
        .agg(F.hll_sketch_agg("user_id", F.lit(lgk)).alias("user_sketch"))
        .select(
            F.unix_millis("w.start").alias("pane_ms"),
            "event_type",
            "user_sketch",
        )
    )
    k = F.explode(
        F.sequence(F.lit(0), F.lit(panes_per_window - 1))
    ).alias("k")
    return (
        panes.select("pane_ms", "event_type", "user_sketch", k)
        .select(
            (F.col("pane_ms") - F.col("k") * pane_ms).alias(
                "window_start_ms"
            ),
            "event_type",
            "user_sketch",
        )
        .groupBy("window_start_ms", "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("user_sketch")
            ).alias("approx_users")
        )
        .select(
            "window_start_ms",
            (F.col("window_start_ms") + window_ms).alias("window_end_ms"),
            "event_type",
            "approx_users",
        )
    )


def _hash_frac(col):
    """md5 → uniform fraction in [0,1): first 48 bits / 2^48 (exact in
    a double; deterministic across engines and runs)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10)
        .cast("double")
        / F.lit(float(1 << 48))
    )


def kmv_sketches(
    events: DataFrame, key_col: str = "user_id",
    segment_col: str = "event_type", k: int = 256,
) -> DataFrame:
    """K-minimum-values sketch per segment: the k smallest hash
    fractions of the segment's distinct keys. O(k) storage per
    segment, mergeable by union+re-truncate — the sketch family that,
    unlike HLL, also supports INTERSECTION estimation (segment
    overlap) without re-scanning raw data. Returns (segment, h, rk).
    """
    from pyspark.sql import Window

    hashes = (
        events.select(
            F.col(segment_col).alias("segment"), F.col(key_col).alias("key")
        )
        .distinct()
        .select("segment", _hash_frac(F.col("key")).alias("h"))
    )
    w = Window.partitionBy("segment").orderBy("h")
    return (
        hashes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("segment", "h", "rk")
    )


def kmv_intersection_estimate(
    sketches: DataFrame, seg_a: str, seg_b: str, k: int = 256
) -> DataFrame:
    """|A ∩ B| estimate from two KMV sketches (no raw-data access):
    merge both hash sets, keep the k smallest (τ = k-th), and scale
    the fraction ρ of merged-top-k hashes present in BOTH sketches:
    |A∩B| ≈ ρ·(k−1)/τ — exact when the union fits inside k."""
    from pyspark.sql import Window

    a = sketches.where(F.col("segment") == seg_a).select(
        "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    b = sketches.where(F.col("segment") == seg_b).select(
        "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    merged = (
        a.unionByName(b)
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.orderBy("h")
    topk = merged.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )
    agg = topk.agg(
        F.count(F.lit(1)).alias("m"),
        F.max("h").alias("tau"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("both"),
    )
    return agg.select(
        F.lit(seg_a).alias("segment_a"),
        F.lit(seg_b).alias("segment_b"),
        F.when(
            F.col("m") < k, F.col("both").cast("double")
        ).otherwise(
            (F.col("both") / F.col("m")) * (F.lit(float(k - 1)) / F.col("tau"))
        ).alias("est_overlap"),
    )
