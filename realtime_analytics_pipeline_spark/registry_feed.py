"""Gated queries: the custom Python Data Source (``rtap_feed``).

The reference's transport contract is Kafka (kafka_source.py:6-19,
kafka_sink.py:10-46); ``sources/feed.py`` re-expresses it as a
first-class Spark source via the Spark 4 Python Data Source API. These
queries put both halves of that contract under the driver's DuckDB
oracle:

- ``pyds_feed_scan``: batch scan THROUGH the custom source with filter
  pushdown active (``In`` + ``GreaterThan`` reach
  ``FeedBatchReader.pushFilters`` and are applied Arrow-side inside the
  scan task) feeding a normal JVM-side aggregation. The oracle cannot
  tell the source apart from the parquet reader — which is the point.
- ``streaming_pyds_feed``: the same log consumed as a STREAM — offset
  ranges planned per (file, row group) partition, drained to completion
  with ``Trigger.AvailableNow`` — through a stateful aggregation.
  The log is fully consumed, so the finalized result equals the batch
  aggregation exactly; no watermark cutoff is involved.

Python stream sources don't implement the AvailableNow admission
control hooks, so Spark logs a fallback to single-batch execution: the
whole currently-available offset range becomes one micro-batch (read
as ``ceil(rows / batch_rows)`` tasks, each packing whole offset ranges
up to ``batch_rows`` rows). For a fixed log that is
exactly the semantics this query needs — deterministic, complete —
while multi-trigger incremental consumption over a GROWING log is
exercised in tests/test_feed_source.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.registry import register
from realtime_analytics_pipeline_spark.session import scratch_dir
from realtime_analytics_pipeline_spark.sources.feed import register_feed_source
from realtime_analytics_pipeline_spark.streaming.jobs import (
    run_to_memory_table,
)

_counter = itertools.count()

_FEED_SCAN_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 6) AS sum_value
FROM events
WHERE event_type IN ('view', 'click', 'purchase') AND value > 10.0
GROUP BY event_type
"""


@register("pyds_feed_scan", _FEED_SCAN_SQL)
def q_pyds_feed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_feed_source(spark)
    feed = (
        spark.read.format("rtap_feed")
        .option("path", f"{sf_dir}/events.parquet")
        .option("parallelism", "8")
        .load()
    )
    return (
        feed.filter(
            F.col("event_type").isin("view", "click", "purchase")
            & (F.col("value") > 10.0)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


_FEED_STREAM_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY event_type
"""


@register("streaming_pyds_feed", _FEED_STREAM_SQL)
def q_streaming_pyds_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_feed_source(spark)
    agg = (
        spark.readStream.format("rtap_feed")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batch_rows", "25000")
        .load()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    return run_to_memory_table(agg, output_mode="complete")


_FEED_WINDOWS_SQL = """
WITH em AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           event_type,
           count(*) AS event_count
    FROM events
    GROUP BY 1, 2, 3
)
SELECT * FROM em
WHERE window_end_ms <= (SELECT max(epoch_ms(ts)) FROM events) - 10000
"""


@register("streaming_feed_windows", _FEED_WINDOWS_SQL)
def q_streaming_feed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom source under the W1-W5 watermark discipline: feed
    stream → normalize → 10 s watermark → tumbling 60 s counts,
    APPEND mode. The log drains in one micro-batch; the NO-DATA batch
    that follows advances the watermark to max event time and the
    single stateful aggregation finalizes every window with
    window_end ≤ max − delay (the empirically pinned single-agg
    emission law, registry_streaming.py) — exactly the oracle's
    cutoff. AvailableNow falls back to single-batch execution for
    Python stream sources and terminates BEFORE any no-data batch, so
    this query runs a processingTime trigger and stops after the
    finalization batch lands (emission is wholesale: during the data
    batch the watermark is still at its old value, so every finalized
    window appears together in the first no-data batch)."""
    import time

    from realtime_analytics_pipeline_spark.schema import (
        normalize_testdata_events,
    )

    register_feed_source(spark)
    raw = (
        spark.readStream.format("rtap_feed")
        .option("path", f"{sf_dir}/events.parquet")
        .load()
    )
    events = normalize_testdata_events(raw).withWatermark(
        "event_time", "10 seconds"
    )
    agg = (
        events.groupBy(
            F.window("event_time", "60 seconds"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.unix_millis("window.start").alias("window_start_ms"),
            F.unix_millis("window.end").alias("window_end_ms"),
            "event_type",
            "event_count",
        )
    )
    name = f"feed_windows_{next(_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    # the frame keeps its own reference to the sink, so it outlives
    # the temp view dropped below (see run_to_memory_table)
    out = spark.table(name)
    try:
        deadline = time.time() + 600
        while time.time() < deadline:
            if out.limit(1).count() > 0:
                break
            time.sleep(0.5)
        # one extra progress round so the finalization batch commits
        # fully before we stop (emission is single-batch, see above)
        time.sleep(1.0)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    return out


_KEYED_ROUNDTRIP_SQL = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cents,
       count(DISTINCT event_id) AS n_distinct_events
FROM events
GROUP BY 1, 2
"""


@register("feed_keyed_roundtrip", _KEYED_ROUNDTRIP_SQL)
def q_feed_keyed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed produce → committed log → custom-source scan, under the
    oracle: the events table is produced into a fresh feed table with
    Kafka's partitioning contract (produce_keyed: user-keyed sticky
    routing, per-partition produce order — producer.py:40 parity),
    then read back THROUGH the rtap_feed batch reader and aggregated
    per (user, type). The oracle sees only the business columns: if
    the keyed route/sort/stage/commit/scan chain drops, duplicates, or
    mangles any row, counts or integer-cents sums diverge. Partition
    assignment itself (engine-native xxhash64) is pinned by the
    produce_keyed contract tests, not the oracle."""
    from realtime_analytics_pipeline_spark.sources.feed import produce_keyed

    register_feed_source(spark)
    path = scratch_dir("keyed_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "_seq", F.col("event_id")
    )
    produce_keyed(
        ev, path, key_col="user_id", seq_col="_seq", num_partitions=8
    )
    back = (
        spark.read.format("rtap_feed").option("path", path).load()
    )
    return (
        back.groupBy(
            F.col("user_id").cast("bigint").alias("user_id"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_cents"),
            F.countDistinct("event_id").alias("n_distinct_events"),
        )
    )


_HTTP_INGEST_SQL = """
WITH sample_events AS (
    SELECT * FROM events
    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 500)
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cents
FROM sample_events
GROUP BY 1
"""


@register("http_ingestion_roundtrip", _HTTP_INGEST_SQL)
def q_http_ingestion_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE ingestion front door under the oracle:
    a deterministic md5-ordered 500-event sample is POSTed as nested
    AnalyticsEvent JSON to a live `/analytics/track` endpoint
    (ingestion_api.IngestionHttpServer — validate → 202 → buffered
    producer), flushed as one keyed epoch into a feed table
    (produce_keyed, the Kafka producer contract), read back from the
    committed log, parsed through the standard wire chain
    (from_json + normalize_wire_events) and aggregated. Any event the
    HTTP/validate/produce/commit/parse chain drops, duplicates, or
    mangles diverges from the oracle's direct aggregation of the same
    sample. value rides the integer metrics.load_time slot as cents,
    per the repo's money discipline."""
    import json as _json
    import urllib.request

    from realtime_analytics_pipeline_spark.ingestion_api import (
        IngestionHttpServer,
    )
    from realtime_analytics_pipeline_spark.schema import (
        ANALYTICS_EVENT_SCHEMA,
        normalize_wire_events,
        raw_ts_ms,
    )
    from realtime_analytics_pipeline_spark.sources.feed import read_committed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sample = (
        ev.orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
        .limit(500)
        .select(
            F.col("event_id").cast("string").alias("event_id"),
            F.col("user_id").cast("string").alias("user_id"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            raw_ts_ms(ev).alias("ts_ms"),
        )
        .collect()  # bounded: exactly 500 rows by construction
    )
    feed = scratch_dir("ingest_")
    srv = IngestionHttpServer(feed)
    try:
        for r in sample:
            payload = {
                "event": {"id": r.event_id, "type": r.event_type},
                "user": {"id": r.user_id},
                "device": {
                    "user_agent": "Mozilla/5.0 (X11; Linux x86_64)",
                    "screen_width": 1920,
                    "screen_height": 1080,
                },
                "context": {
                    "url": "https://example.com/page",
                    "session_id": r.user_id,
                },
                "metrics": {"load_time": r.cents},
                "timestamp": r.ts_ms,
            }
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/analytics/track",
                data=_json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=30) as resp:
                assert resp.status == 202
        srv.flush(spark)
    finally:
        srv.close()
    parsed = normalize_wire_events(
        read_committed(spark, feed)
        .select(F.from_json(F.col("value"), ANALYTICS_EVENT_SCHEMA).alias("e"))
        .select("e.*")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("load_time").cast("bigint").alias("sum_value_cents"),
    )
