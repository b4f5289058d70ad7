"""Gated query: streaming parity.

Runs the EventAggregator graph as a real Structured Streaming query —
file micro-batch source → watermark → chained stateful aggregation
(exact distinct users) → append-mode memory sink, availableNow — and
returns the materialized table.

Oracle: the batch event-metrics SQL restricted to the finalized set a
CHAINED windowed aggregation emits: window_end ≤ max event time −
watermark delay (10 s) − window size (60 s). The extra window-length
lag is Spark's multi-stateful watermark propagation — the downstream
aggregate's effective watermark is delayed by the upstream window
duration, so the window generation that phase 1 emits in the terminal
no-data batch stays open in phase 2 until more data arrives (verified
empirically at sf0.001/0.01/0.1; a single-aggregate stream has no such
lag).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_analytics_pipeline_spark.operators.event_metrics import (
    event_metrics_exact_streaming,
)
from realtime_analytics_pipeline_spark.operators.session_metrics import (
    session_metrics,
)
from realtime_analytics_pipeline_spark.registry import _ALLOWED_SQL, register
from realtime_analytics_pipeline_spark.streaming.jobs import (
    read_events_stream_from_dir,
    run_to_memory_table,
)

_STREAMING_EM_SQL = f"""
WITH em AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           event_type,
           count(*) AS event_count,
           count(DISTINCT user_id) AS user_count
    FROM events
    WHERE event_type IN ({_ALLOWED_SQL})
    GROUP BY 1, 2, 3
)
SELECT * FROM em
WHERE window_end_ms <= (SELECT max(epoch_ms(ts)) FROM events) - 70000
"""


_STREAMING_JOIN_SQL = """
SELECT CAST(p.event_id AS VARCHAR) AS purchase_id,
       CAST(p.user_id AS VARCHAR) AS p_user,
       epoch_us(p.ts) AS p_us,
       CAST(v.event_id AS VARCHAR) AS view_id,
       epoch_us(v.ts) AS v_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
"""


@register("streaming_interval_join", _STREAMING_JOIN_SQL)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ⋈ views of the same user
    within a 1 h lookback) run as a REAL streaming query. Inner-join
    matches emit in the micro-batch where both sides are present — the
    watermark + range condition only bound state — so over the
    single-file replay the emitted set equals the batch interval join
    exactly (multi-batch watermark-eviction behavior is pinned in
    tests/test_stream_joins.py)."""
    from realtime_analytics_pipeline_spark.streaming.joins import (
        stream_attribution_join,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    joined = stream_attribution_join(stream).select(
        "purchase_id",
        "p_user",
        F.unix_micros("p_time").alias("p_us"),
        "view_id",
        F.unix_micros("v_time").alias("v_us"),
    )
    return run_to_memory_table(joined)


@register("streaming_stateful_running_totals")  # rows-only: bloom column
def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState) on the
    driver surface: per-type cumulative counts + bloom-sketched
    distinct users carried in keyed state across micro-batches. The
    bloom estimate has no SQL twin (1024-bit sketch arithmetic) —
    rows-only here; cumulative-count exactness across real multi-batch
    replays is pinned in tests/test_stateful.py."""
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        running_totals_per_type,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    out = running_totals_per_type(stream)
    return run_to_memory_table(out, output_mode="update")


_STREAMING_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
    SELECT user_id, ts,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
sess AS (
    SELECT CAST(user_id AS VARCHAR) AS session_id,
           CAST(user_id AS VARCHAR) AS user_id,
           epoch_ms(min(ts)) AS start_ms,
           epoch_ms(max(ts)) AS end_ms,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration,
           count(*) AS page_count
    FROM islands
    GROUP BY user_id, island
)
SELECT * FROM sess
WHERE end_ms + 1800000 <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_session_metrics", _STREAMING_SESSION_SQL)
def q_streaming_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference SessionTracker as a REAL streaming job
    (session_tracker.py:29-36 runs session windows in streaming mode;
    this replays the same graph through availableNow micro-batches).

    Oracle: batch sessionization restricted to the finalized set a
    SINGLE stateful session aggregation emits in append mode: a
    session is evicted when the watermark passes its window end
    (last event + 30 min gap), and the final watermark is
    max event time − 10 s delay. Unlike the CHAINED aggregation in
    streaming_event_metrics there is no extra window-generation lag —
    verified empirically at sf0.001 (945/946 sessions, the held-back
    one being the stream tail) and sf0.01 (9542/9549, zero diff rows
    vs this filter; the next-lag candidate mismatches by 6).
    """
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    sess = session_metrics(stream)
    out = sess.select(
        "session_id",
        "user_id",
        F.unix_millis("start_time").alias("start_ms"),
        F.unix_millis("end_time").alias("end_ms"),
        "duration",
        "page_count",
    )
    return run_to_memory_table(out)


def _finalized_core(
    spark: SparkSession,
    sf_dir: str,
    emitted: DataFrame,
    end_col: str = "window_end_ms",
    lag_ms: int = 70000,
) -> DataFrame:
    """Restrict an append-mode emitted set to its replay-shape-
    INDEPENDENT finalization core: windows with end <= max event time
    - lag_ms. A chained stateful aggregation's emitted set depends on
    how many micro-batches the replay used — a single-file replay
    (the driver's testdata) finalizes windows only up to
    max - 10 s - 60 s (the watermark delay plus one window of
    propagation lag through the second stateful operator), while an
    8-file replay (the .scale slices) advances the watermark
    incrementally and finalizes one window more (round-12, found by
    the sf1 oracle spot-check). Emission is MONOTONE in batch count,
    so the single-file set is the minimal core and every replay shape
    emits a superset — filtering to the core makes the gated output
    identical everywhere without changing what the driver sees. The
    1-row max() read is the documented bounded-collect convention."""
    from realtime_analytics_pipeline_spark.sources.batch import load_events

    mx = (
        load_events(spark, sf_dir)
        .agg(F.max(F.unix_millis("event_time")))
        .collect()[0][0]
    )
    return emitted.where(F.col(end_col) <= mx - lag_ms)


@register("streaming_event_metrics", _STREAMING_EM_SQL)
def q_streaming_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    agg = event_metrics_exact_streaming(stream)
    out = agg.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        "event_type",
        "event_count",
        "user_count",
    )
    return _finalized_core(spark, sf_dir, run_to_memory_table(out))


_STATEFUL_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
    SELECT user_id, ts,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
sess AS (
    SELECT CAST(user_id AS VARCHAR) AS session_id,
           CAST(user_id AS VARCHAR) AS user_id,
           epoch_ms(min(ts)) AS start_ms,
           epoch_ms(max(ts)) AS end_ms,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration,
           count(*) AS page_count
    FROM islands
    GROUP BY user_id, island
)
SELECT * FROM sess
WHERE end_ms + 1800000 <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_stateful_sessions", _STATEFUL_SESSION_SQL)
def q_streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the CUSTOM stateful escape hatch
    (applyInPandasWithState + event-time timeout) instead of the native
    session_window — the twin of ``streaming_session_metrics`` with the
    identical finalized-set oracle: a session is emitted either when a
    later event splits its key (gap exceeded) or when the event-time
    timeout fires (watermark passed end + gap). Verified empirically:
    the emitted set equals the watermark-eviction filter exactly at
    sf0.001 (945/946, zero diff rows) — the gap-split early emissions
    are a subset of the evicted set because a successor event at
    end + gap pushes the final watermark past end + gap − 10 s.
    Multi-batch state carry/timeout behavior is pinned in
    tests/test_stateful.py."""
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        sessionize_stateful,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    sess = sessionize_stateful(stream)
    out = sess.select(
        "session_id",
        "user_id",
        F.expr("start_us DIV 1000").alias("start_ms"),
        F.expr("end_us DIV 1000").alias("end_ms"),
        F.expr("(end_us - start_us) DIV 1000").alias("duration"),
        "page_count",
    )
    return run_to_memory_table(out)


_STREAMING_DEDUP_SQL = """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       epoch_ms(ts) AS event_ms,
       event_type,
       CAST(user_id AS VARCHAR) AS user_id,
       value
FROM events
"""


@register("streaming_exact_dedup", _STREAMING_DEDUP_SQL)
def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication (dropDuplicatesWithinWatermark)
    under simulated at-least-once delivery: the same events file is
    delivered as TWO micro-batches. Batch 1 emits every event once;
    batch 2's copies are eliminated — rows older than the advanced
    watermark are dropped late, rows inside the horizon hit the dedup
    state — so the emitted set is exactly DISTINCT over the source.
    State is bounded by the watermark horizon (keys older than the
    delay are evicted), which is what makes exact streaming dedup
    viable at 100 TB/day: memory is O(events per delay window), not
    O(events ever seen)."""
    import time

    tmp = tempfile.mkdtemp(prefix="dedup_stream_src_")
    # both deliveries are in the memory sink once the replay ends
    try:
        src = os.path.join(sf_dir, "events.parquet")
        now = time.time()
        if os.path.isdir(src):
            # .scale slices store events as an n-file directory: redeliver
            # the WHOLE sequence twice, preserving within-delivery file
            # order via ascending mtimes (round-12 — the single-file
            # copyfile raised IsADirectoryError at the scale gate)
            k = 0
            for i in (0, 1):
                for f in sorted(os.listdir(src)):
                    dst = os.path.join(tmp, f"delivery{i}_{f}")
                    shutil.copyfile(os.path.join(src, f), dst)
                    os.utime(dst, (now + k, now + k))
                    k += 1
        else:
            for i in (0, 1):
                dst = os.path.join(tmp, f"delivery{i}.parquet")
                shutil.copyfile(src, dst)
                os.utime(dst, (now + 2 * i, now + 2 * i))

        stream = read_events_stream_from_dir(spark, tmp)
        deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
        out = deduped.select(
            "event_id",
            F.unix_millis("event_time").alias("event_ms"),
            "event_type",
            "user_id",
            "value",
        )
        return run_to_memory_table(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register("event_users_hll_rollup_1h")  # rows-only: sketch binaries are
# engine-native (DataSketches HLL); estimate-vs-exact and
# union-losslessness are pinned in tests/test_sketches.py
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch serving pattern: per-minute HLL cells
    unioned to hourly distinct-user estimates without re-scanning
    events. At 100 TB the hourly rollup reads KB-sized sketch cells,
    not the raw fact table."""
    from realtime_analytics_pipeline_spark.operators.sketches import (
        hll_minute_sketches,
        hll_rollup_hour,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_events

    minute = hll_minute_sketches(load_events(spark, sf_dir))
    return hll_rollup_hour(minute)


_STREAM_TOPK_SQL = f"""
WITH em AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           event_type,
           count(*) AS event_count,
           count(DISTINCT user_id) AS user_count
    FROM events
    WHERE event_type IN ({_ALLOWED_SQL})
    GROUP BY 1, 2, 3
),
fin AS (
    SELECT * FROM em
    WHERE window_end_ms <= (SELECT max(epoch_ms(ts)) FROM events) - 70000
)
SELECT window_start_ms, window_end_ms, event_type, event_count,
       user_count, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY window_start_ms
        ORDER BY event_count DESC, event_type) AS rank
    FROM fin
) WHERE rank <= 3
"""


@register("streaming_topk_per_window", _STREAM_TOPK_SQL)
def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: per-window event-type leaderboard.

    Rank-within-window is not expressible inside an append-mode
    streaming aggregation (no window functions over a streaming agg),
    so this uses the standard two-tier shape the reference's serving
    layer also embodies (api/main.py reads ClickHouse tables the job
    wrote): the STREAMING tier materializes finalized per-window
    counts (same chained exact-distinct aggregation as
    streaming_event_metrics), and the SERVING tier ranks the
    materialized windows — at 100 TB the rank runs over the compact
    metrics table (windows × types), never the raw stream. Oracle:
    batch metrics restricted to the finalized set, ranked identically;
    ties broken (event_count DESC, event_type ASC) deterministically.
    """
    from pyspark.sql import Window

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    agg = event_metrics_exact_streaming(stream)
    out = agg.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        "event_type",
        "event_count",
        "user_count",
    )
    emitted = run_to_memory_table(out)
    w = Window.partitionBy("window_start_ms").orderBy(
        F.desc("event_count"), F.asc("event_type")
    )
    # rank over the finalization CORE (not the raw emitted set):
    # the rank depends on which windows are present, so the
    # replay-shape filter must come before it (see _finalized_core)
    return (
        _finalized_core(spark, sf_dir, emitted)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


_STREAM_ENRICH_SQL = """
WITH em AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           CASE user_id % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                ELSE 'bronze' END AS tier,
           count(*) AS event_count
    FROM events
    GROUP BY 1, 2
)
SELECT * FROM em
WHERE window_start_ms + 60000 <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_static_enrichment", _STREAM_ENRICH_SQL)
def q_streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined per
    micro-batch against a STATIC dimension (user → tier; the dim is a
    batch DataFrame, broadcast into every micro-batch — Spark
    re-plans the join per batch, the standard serving enrichment
    shape), then a windowed aggregation. Single stateful aggregation
    ⇒ finalized set = windows whose end the final watermark passed
    (empirically validated like streaming_session_metrics)."""
    from realtime_analytics_pipeline_spark.sources.batch import load_table

    # static dim: distinct users with a derived tier (the synthetic
    # schema has no user dim table; the mapping is deterministic)
    tier = (
        F.when(F.col("uid") % 3 == 0, "gold")
        .when(F.col("uid") % 3 == 1, "silver")
        .otherwise("bronze")
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(
            F.col("uid").cast("string").alias("d_user_id"), tier.alias("tier")
        )
    )
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == F.col("d_user_id")
    )
    agg = (
        enriched.groupBy(
            F.window("event_time", "60 seconds").alias("w"), "tier"
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
    )
    out = agg.select(
        F.unix_millis("w.start").alias("window_start_ms"),
        "tier",
        "event_count",
    )
    return run_to_memory_table(out)


_STREAMING_OUTER_JOIN_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
v AS (SELECT * FROM events WHERE event_type = 'view'),
m AS (
    SELECT p.event_id AS pid, p.user_id AS pu, p.ts AS pts,
           v.event_id AS vid, v.ts AS vts
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
),
mx AS (SELECT max(epoch_us(ts)) AS mu FROM events)
SELECT CAST(pid AS VARCHAR) AS purchase_id,
       CAST(pu AS VARCHAR) AS p_user,
       epoch_us(pts) AS p_us,
       CAST(vid AS VARCHAR) AS view_id,
       epoch_us(vts) AS v_us
FROM m
UNION ALL
SELECT CAST(p.event_id AS VARCHAR),
       CAST(p.user_id AS VARCHAR),
       epoch_us(p.ts),
       CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM p, mx
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.pid = p.event_id)
  AND epoch_us(p.ts) <= mu - 10000000
"""


@register("streaming_interval_join_outer", _STREAMING_OUTER_JOIN_SQL)
def q_streaming_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream interval join as a real streaming
    query. Matched pairs emit in the batch where both sides meet (as
    in the inner twin); an UNMATCHED purchase emits null-padded once
    the watermark passes its p_time — no view with v_time ≤ p_time
    can still arrive, so its join state expires. Oracle: batch left
    join = all matched rows ∪ unmatched purchases finalized by the
    terminal watermark (p_us ≤ max_us − 10 s delay; boundary verified
    row-exact at sf0.001 — 198/199 emitted, the held-back one being
    the stream tail — and sf0.01). Multi-batch null-padding/eviction
    is pinned in tests/test_stream_joins.py."""
    from realtime_analytics_pipeline_spark.streaming.joins import (
        stream_attribution_join_outer,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    joined = stream_attribution_join_outer(stream).select(
        "purchase_id",
        "p_user",
        F.unix_micros("p_time").alias("p_us"),
        "view_id",
        F.unix_micros("v_time").alias("v_us"),
    )
    return run_to_memory_table(joined)


_STREAM_SLIDING_SQL = """
WITH sl AS (
    SELECT ((epoch_ms(ts) // 60000) - j) * 60000 AS window_start_ms,
           ((epoch_ms(ts) // 60000) - j) * 60000 + 300000 AS window_end_ms,
           event_type,
           count(*) AS event_count
    FROM events, (SELECT unnest(range(5)) AS j)
    GROUP BY 1, 2, 3
)
SELECT * FROM sl
WHERE window_end_ms <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_sliding_window_5m1m", _STREAM_SLIDING_SQL)
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows (5 m window / 1 m slide) as a REAL streaming
    aggregation — each event feeds 5 overlapping windows; a SINGLE
    stateful count aggregation, so the append-mode finalized set is
    exactly the windows whose end the terminal watermark passed
    (max event time − 10 s), same single-operator eviction rule as
    streaming_session_metrics — no chained-agg window-generation lag."""
    from realtime_analytics_pipeline_spark.operators.relational import (
        sliding_event_counts,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    out = sliding_event_counts(stream)
    return run_to_memory_table(out)


_STATEFUL_TOTALS_SQL = """
SELECT event_type, count(*) AS total_events
FROM events
GROUP BY 1
"""


@register("streaming_stateful_totals_final", _STATEFUL_TOTALS_SQL)
def q_streaming_stateful_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT oracle row for the custom stateful operator: the
    update-mode memory table carries one row per (type, micro-batch)
    with monotone cumulative counts, so the final cumulative count per
    type — max over the update stream — must equal the batch COUNT(*).
    This upgrades the operator's evidence from rows-only (the bloom
    column has no SQL twin) to a hard cross-engine check on its
    deterministic half; the twin query streaming_stateful_running_totals
    still exposes the full output incl. the bloom estimate."""
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        running_totals_per_type,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    out = running_totals_per_type(stream)
    return (
        run_to_memory_table(out, output_mode="update")
        .groupBy("event_type")
        .agg(F.max("cumulative_events").alias("total_events"))
    )


_STREAM_OUTLIER_SQL = """
WITH vals AS (
    SELECT event_type, value, ts FROM events WHERE value IS NOT NULL
),
med AS (SELECT event_type, median(value) AS med FROM vals GROUP BY 1),
fen AS (
    SELECT v.event_type, max(m.med) AS med,
           median(abs(v.value - m.med)) AS mad
    FROM vals v JOIN med m USING (event_type)
    GROUP BY 1
),
win AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           event_type,
           avg(value) AS win_avg
    FROM vals
    GROUP BY 1, 2
)
SELECT w.window_start_ms, w.event_type,
       round(w.win_avg, 6) AS win_avg,
       (w.win_avg > f.med + 3 * 1.4826 * f.mad
        OR w.win_avg < f.med - 3 * 1.4826 * f.mad) AS is_breach
FROM win w JOIN fen f USING (event_type)
WHERE w.window_start_ms + 60000 <=
      (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_value_outliers", _STREAM_OUTLIER_SQL)
def q_streaming_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live monitoring shape: per-minute value averages from the
    STREAM, checked against STATIC robust fences (median/MAD computed
    batch-side — the reference-data pattern: fences re-train offline,
    the stream only reads them). Fences broadcast into every
    micro-batch before the windowed aggregation; single stateful agg
    ⇒ finalized set = windows whose end the terminal watermark passed."""
    from realtime_analytics_pipeline_spark.sources.batch import load_events

    batch = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    vals = batch.select("event_type", "value")
    med = vals.groupBy("event_type").agg(F.median("value").alias("med"))
    fences = (
        vals.join(med, "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .groupBy("event_type")
        .agg(F.max("med").alias("med"), F.median("adev").alias("mad"))
        .select(
            F.col("event_type").alias("f_type"), "med", "mad"
        )
    )
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    ).where(F.col("value").isNotNull())
    enriched = stream.join(
        F.broadcast(fences), stream["event_type"] == F.col("f_type")
    )
    agg = enriched.groupBy(
        F.window("event_time", "60 seconds").alias("w"), "event_type"
    ).agg(
        F.avg("value").alias("win_avg"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
    )
    hi = F.col("med") + F.lit(3 * 1.4826) * F.col("mad")
    lo = F.col("med") - F.lit(3 * 1.4826) * F.col("mad")
    out = agg.select(
        F.unix_millis("w.start").alias("window_start_ms"),
        "event_type",
        F.round("win_avg", 6).alias("win_avg"),
        ((F.col("win_avg") > hi) | (F.col("win_avg") < lo)).alias(
            "is_breach"
        ),
    )
    return run_to_memory_table(out)


_STREAM_HISTOGRAM_SQL = """
WITH h AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           CAST(CASE WHEN value < 0.0 THEN 0
                     WHEN value >= 100.0 THEN 11
                     ELSE floor(value / 10.0) + 1 END AS BIGINT) AS bucket,
           count(*) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
)
SELECT * FROM h
WHERE window_start_ms + 60000 <=
      (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_histogram_per_window", _STREAM_HISTOGRAM_SQL)
def q_streaming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live value-distribution monitoring: width_bucket histogram keyed
    by (window, bucket) inside a single streaming aggregation — the
    histogram IS the group key, so state stays windows × 12 buckets
    regardless of input rate. Finalized set = single-operator
    watermark rule. Bin width 10.0 is exact, so the floor-arithmetic
    oracle reproduces width_bucket bit-for-bit."""
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    ).where(F.col("value").isNotNull())
    agg = (
        stream.groupBy(
            F.window("event_time", "60 seconds").alias("w"),
            F.width_bucket(
                "value", F.lit(0.0), F.lit(100.0), F.lit(10)
            ).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = agg.select(
        F.unix_millis("w.start").alias("window_start_ms"), "bucket", "n"
    )
    return run_to_memory_table(out)


# Chained stateful aggregation: per-(day, bitmap-bucket) bitmaps built
# in phase 1, OR-merged and counted in phase 2 — EXACT streaming
# distinct with fixed-size mergeable state (the lossless alternative to
# HLL state). Finalized set measured empirically at sf0.001/sf0.01:
# window_end ≤ max − delay (the SINGLE-agg law, no extra window-length
# lag) — phase 2 groups on the SAME window struct phase 1 emits, and
# both phases finalize in the same terminal no-data batch, unlike the
# 1m chained-distinct case where the second grouping re-keys.
_STREAM_BITMAP_SQL = """
WITH daily AS (
    SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
           count(*) AS n_events,
           count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY 1)
SELECT day_ms, day_ms + 86400000 AS day_end_ms, n_events, distinct_users
FROM daily
WHERE day_ms + 86400000 <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_daily_users_bitmap", _STREAM_BITMAP_SQL)
def q_streaming_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily distinct users as a STREAMING job: phase 1 keeps one
    bitmap per (day, bucket) in state (bounded, mergeable — new events
    OR into it); phase 2 merges buckets per finalized day. Append-mode
    emission; oracle = batch COUNT(DISTINCT) on the finalized set."""
    # read_events_stream_from_dir already assigns the 10 s watermark
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    phase1 = stream.groupBy(
        F.window("event_time", "1 day").alias("win"),
        F.expr("bitmap_bucket_number(CAST(user_id AS LONG))").alias(
            "bucket"
        ),
    ).agg(
        F.expr(
            "bitmap_construct_agg("
            "bitmap_bit_position(CAST(user_id AS LONG)))"
        ).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    phase2 = phase1.groupBy("win").agg(
        F.sum("n").alias("n_events"),
        F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"),
    )
    out = phase2.select(
        F.unix_millis(F.col("win.start")).alias("day_ms"),
        F.unix_millis(F.col("win.end")).alias("day_end_ms"),
        "n_events",
        "distinct_users",
    )
    return run_to_memory_table(out)


# Single stateful aggregation ⇒ the single-agg finalization law
# (window_end ≤ max − delay), same as streaming_session_metrics.
_STREAM_SLO_SQL = """
WITH w AS (
    SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events GROUP BY 1)
SELECT window_start_ms, n_events, n_errors,
       round(n_errors * 1.0 / n_events, 6) AS error_rate,
       n_errors * 1.0 / n_events > 0.05 AS slo_breach
FROM w
WHERE window_start_ms + 300000 <=
      (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_error_slo", _STREAM_SLO_SQL)
def q_streaming_error_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ≤5%-error acceptance envelope as a LIVE streaming monitor:
    5-minute windowed error rates with breach flags emitted in append
    mode as windows finalize — the alerting job a reference operator
    would attach to the live topic."""
    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    agg = stream.groupBy(
        F.window("event_time", "5 minutes").alias("win")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(err).alias("n_errors"),
    )
    out = agg.select(
        F.unix_millis(F.col("win.start")).alias("window_start_ms"),
        "n_events",
        "n_errors",
        F.round(F.col("n_errors") / F.col("n_events"), 6).alias(
            "error_rate"
        ),
        (F.col("n_errors") / F.col("n_events") > 0.05).alias(
            "slo_breach"
        ),
    )
    return run_to_memory_table(out)


_STREAMING_FULL_JOIN_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
v AS (SELECT * FROM events WHERE event_type = 'view'),
m AS (
    SELECT p.event_id AS pid, p.user_id AS pu, p.ts AS pts,
           v.event_id AS vid, v.user_id AS vu, v.ts AS vts
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
),
mx AS (SELECT max(epoch_us(ts)) AS mu FROM events)
SELECT CAST(pid AS VARCHAR) AS purchase_id,
       CAST(pu AS VARCHAR) AS p_user,
       epoch_us(pts) AS p_us,
       CAST(vid AS VARCHAR) AS view_id,
       CAST(vu AS VARCHAR) AS v_user,
       epoch_us(vts) AS v_us
FROM m
UNION ALL
SELECT CAST(p.event_id AS VARCHAR), CAST(p.user_id AS VARCHAR),
       epoch_us(p.ts),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
FROM p, mx
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.pid = p.event_id)
  AND epoch_us(p.ts) <= mu - 10000000
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       CAST(v.event_id AS VARCHAR), CAST(v.user_id AS VARCHAR),
       epoch_us(v.ts)
FROM v, mx
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.vid = v.event_id)
  AND epoch_us(v.ts) <= mu - 10000000 - 3600000000
"""


@register("streaming_interval_join_full", _STREAMING_FULL_JOIN_SQL)
def q_streaming_interval_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream interval join as a real streaming
    query — the last join shape in the streaming matrix. Matched rows
    emit in-batch; unmatched purchases null-pad at watermark > p_time
    (as in the left-outer twin); unmatched VIEWS null-pad only at
    watermark > v_time + 1 h lookback — their state must outlive the
    whole match window, so the view-side finalized set is
    v_us ≤ max_us − delay − lookback. The oracle encodes both
    eviction laws; row-exactness at both SFs is the empirical proof
    of the cutoffs."""
    from realtime_analytics_pipeline_spark.streaming.joins import (
        stream_attribution_join_full_outer,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    joined = stream_attribution_join_full_outer(stream).select(
        "purchase_id",
        "p_user",
        F.unix_micros("p_time").alias("p_us"),
        "view_id",
        "v_user",
        F.unix_micros("v_time").alias("v_us"),
    )
    return run_to_memory_table(joined)


# Self-calibrating CUSUM: single stateful operator, so the single-agg
# finalization law applies (minute_end <= max - delay). The oracle
# replays the ONLINE recurrence with SQL windows over the finalized
# minutes: prior-prefix floor-mean target (first minute is its own
# target), then cum - min(0, running-min-cum).
_STREAM_CUSUM_SQL = """
WITH m AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS minute_ms,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY 1
),
f AS (
    SELECT * FROM m
    WHERE minute_ms + 60000 <=
          (SELECT max(epoch_ms(ts)) FROM events) - 10000
),
t AS (
    SELECT minute_ms, total_cents,
           CASE WHEN row_number() OVER (ORDER BY minute_ms) = 1
                THEN total_cents
                ELSE CAST(sum(total_cents) OVER (
                         ORDER BY minute_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING)
                     // count(*) OVER (
                         ORDER BY minute_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS BIGINT)
           END AS target_cents
    FROM f
),
c AS (
    SELECT *, sum(total_cents - target_cents) OVER (
        ORDER BY minute_ms ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
),
d AS (
    SELECT *, least(min(cum) OVER (
        ORDER BY minute_ms ROWS UNBOUNDED PRECEDING), 0) AS mn
    FROM c
)
SELECT minute_ms, total_cents, target_cents,
       CAST(cum - mn AS BIGINT) AS cusum_pos,
       (cum - mn) > 2 * target_cents AS is_drift
FROM d
"""


@register("streaming_cusum_drift", _STREAM_CUSUM_SQL)
def q_streaming_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift detection as a LIVE stateful streaming job: per-minute
    value mass folds through streaming/stateful.py::cusum_stateful —
    the target self-calibrates from the finalized prefix (no global
    pass exists in a stream), minutes finalize as the watermark passes
    their end, and the emitted integer-cents fold equals the oracle's
    SQL-window replay bit-for-bit."""
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        cusum_stateful,
    )

    stream = read_events_stream_from_dir(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    out = cusum_stateful(stream)
    return run_to_memory_table(out)


# ---------------------------------------------------------------------------
# Round-9: STREAMING two-phase sessionization (the hot-session-key
# path, streaming form). Phase 1: native session_window keyed by
# (session_id, user_id, day-bucket) — the state and window work of one
# viral key spreads over its time extent — emitting partial sessions
# to parquet. Phase 2: applyInPandasWithState interval-merge of the
# partials. Phase 2's close rule is NOT the event-level one: a merged
# state may only finalize once NO same-session partial can still be
# withheld upstream, i.e. at bucket_end(bucket(end + gap)) + gap
# (streaming/stateful.py::_merge_partials_update_fn has the proof
# sketch; a truncated tail chain provably never finalizes because
# wmB <= wmA - gap - delay).
#
# The oracle replays the full composition in SQL: bucketed partials,
# phase-1 eviction (end + gap <= wmA = max ts - 10 s), the interval
# merge, and phase-2 finalization (every chain but the key's last is
# gap-split-emitted; the last needs its bucket-ceiling timeout to
# clear wmB = max emitted end - 10 s). Hash-exact at sf0.001 (931
# sessions of 946 batch) and sf0.01 (9407 of 9549) on first fit.
# ---------------------------------------------------------------------------

_STREAM_BUCKETED_SESSION_SQL = """
WITH b AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS t_us,
           epoch_us(ts) // 86400000000 AS bucket
    FROM events
),
flagged AS (
    SELECT user_id, bucket, t_us, event_id,
           CASE WHEN lag(t_us) OVER w IS NULL
                     OR t_us - lag(t_us) OVER w > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM b
    WINDOW w AS (PARTITION BY user_id, bucket ORDER BY t_us, event_id)
),
islands AS (
    SELECT user_id, bucket, t_us,
           sum(is_new) OVER (
               PARTITION BY user_id, bucket ORDER BY t_us, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
partials AS (
    SELECT user_id, bucket, island,
           min(t_us) AS s_us, max(t_us) AS e_us, count(*) AS page_count
    FROM islands GROUP BY 1, 2, 3
),
wma AS (SELECT max(epoch_us(ts)) - 10000000 AS v FROM events),
emitted AS (
    SELECT * FROM partials
    WHERE e_us + 1800000000 <= (SELECT v FROM wma)
),
wmb AS (SELECT max(e_us) - 10000000 AS v FROM emitted),
mflag AS (
    SELECT user_id, s_us, e_us, page_count,
           CASE WHEN lag(e_us) OVER w2 IS NULL
                     OR s_us - lag(e_us) OVER w2 > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM emitted
    WINDOW w2 AS (PARTITION BY user_id ORDER BY s_us)
),
mislands AS (
    SELECT user_id, s_us, e_us, page_count,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY s_us
               ROWS UNBOUNDED PRECEDING) AS chain
    FROM mflag
),
merged AS (
    SELECT user_id, chain,
           min(s_us) AS s_us, max(e_us) AS e_us,
           CAST(sum(page_count) AS BIGINT) AS page_count
    FROM mislands GROUP BY 1, 2
),
lastc AS (SELECT user_id, max(chain) AS last_chain FROM merged GROUP BY 1)
SELECT CAST(m.user_id AS VARCHAR) AS session_id,
       CAST(m.user_id AS VARCHAR) AS user_id,
       m.s_us // 1000 AS start_ms,
       m.e_us // 1000 AS end_ms,
       (m.e_us - m.s_us) // 1000 AS duration,
       m.page_count
FROM merged m JOIN lastc l USING (user_id)
WHERE m.chain < l.last_chain
   OR ((m.e_us + 1800000000) // 86400000000 + 1) * 86400000000
      + 1800000000 <= (SELECT v FROM wmb)
"""


@register("streaming_session_metrics_bucketed", _STREAM_BUCKETED_SESSION_SQL)
def q_streaming_session_metrics_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-phase skew-resilient sessionization as REAL streaming jobs:
    phase 1 (native session_window over (key, day-bucket), append
    mode) replays into a partials parquet handoff; phase 2
    (applyInPandasWithState interval merge with the bucket-ceiling
    close rule) replays the handoff into the finalized session set.
    Oracle = the full composition in SQL (see block comment above)."""
    from realtime_analytics_pipeline_spark.operators.session_metrics import (
        session_partials_bucketed,
    )
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        merge_partials_stateful,
    )

    tmp = tempfile.mkdtemp(prefix="tp_sess_")
    # the partials and phase 1's checkpoint are spent once phase 2's
    # result is in the memory sink
    try:
        pdir = os.path.join(tmp, "partials")
        stream = read_events_stream_from_dir(
            spark, os.path.join(sf_dir, "events.parquet")
        )
        q = (
            session_partials_bucketed(stream)
            .writeStream.format("parquet")
            .option("path", pdir)
            .option("checkpointLocation", os.path.join(tmp, "ck1"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # phase-1 output schema is fixed by session_partials_bucketed —
        # pass it explicitly so an empty handoff (tiny slice, watermark
        # never clearing end+gap) yields an empty result, not an
        # unable-to-infer-schema crash
        schema = T.StructType(
            [
                T.StructField("session_id", T.StringType()),
                T.StructField("user_id", T.StringType()),
                T.StructField("start_time", T.TimestampType()),
                T.StructField("end_time", T.TimestampType()),
                T.StructField("page_count", T.LongType()),
            ]
        )
        pstream = (
            spark.readStream.schema(schema)
            .parquet(pdir)
            .withWatermark("end_time", "10 seconds")
        )
        merged = merge_partials_stateful(pstream)
        return run_to_memory_table(merged).select(
            "session_id",
            "user_id",
            F.expr("start_us DIV 1000").alias("start_ms"),
            F.expr("end_us DIV 1000").alias("end_ms"),
            F.expr("(end_us - start_us) DIV 1000").alias("duration"),
            "page_count",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
