"""Streaming sinks.

Reference parity (SURVEY §2.1 S5-S7, §2.6 T8, §2.5 X5):

- S5 Kafka JSON sink: append window rows as JSON values. Spark's Kafka
  sink is at-least-once; the reference's transactional exactly-once is
  replaced by idempotent-by-key downstream writes (deterministic
  window keys), the standard Spark pattern.
- S6 ClickHouse batch insert → ``foreach_batch_partitioned_parquet``:
  idempotent per-window-partition overwrite, partition + sort layout
  mirroring the MergeTree ORDER BY keys (ddl.py:11,24,35).
- S7 Redis windowed cache → ``foreach_batch_retention_view``: keeps
  the newest N windows materialized, the T5 retention semantics.
- T8 micro-batch size / retry discipline maps to
  ``maxOffsetsPerTrigger`` + checkpointing (offset commit after
  successful write comes free from the checkpoint protocol).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# micro-precision wire timestamps; consumers parse with the same format
KAFKA_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def kafka_json_payload(
    df: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The exact wire projection ``write_kafka_json`` ships to the
    broker: value = flat JSON of the whole row (the reference's Flink
    sinks emit value-only ``format=json`` rows of the sink schemas,
    kafka_sink.py:10-46); key (optional) = JSON of the partition-key
    columns so downstream consumers see per-key ordering. Factored out
    so the wire contract is testable without a broker
    (tests/test_kafka_contract.py).

    Timestamps are serialized at MICROsecond precision (Spark's
    to_json default is millis, which silently truncates session
    start/end times — a lossy wire format)."""
    opts = {"timestampFormat": KAFKA_TS_FORMAT}
    value = F.to_json(F.struct("*"), opts).alias("value")
    if key_cols:
        return df.select(
            F.to_json(
                F.struct(*[F.col(c) for c in key_cols]), opts
            ).alias("key"),
            value,
        )
    return df.select(value)


def write_kafka_json(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = (),
):
    """S5: stream rows to a Kafka topic as JSON (requires connector)."""
    payload = kafka_json_payload(df, key_cols)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def foreach_batch_partitioned_parquet(
    out_dir: str,
    partition_col: str = "window_start",
    sort_cols: tuple[str, ...] = ("window_start",),
) -> Callable[[DataFrame, int], None]:
    """S6-equivalent storage sink: each micro-batch is written
    partitioned by window and sorted within partitions — the
    Parquet analog of ClickHouse MergeTree ORDER BY (window_start,
    key). A dynamic partition overwrite makes replays idempotent
    (exactly-once effect per window partition, X5); it is a writer
    option, so the session's ``partitionOverwriteMode`` is untouched."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        (
            batch_df.withColumn(
                "_part", F.date_format(partition_col, "yyyyMMddHH")
            )
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_part")
            .parquet(out_dir)
        )

    return write


def foreach_batch_retention_view(
    out_dir: str,
    retain: int,
    time_col: str = "window_start",
    metrics: dict | None = None,
) -> Callable[[DataFrame, int], None]:
    """S7-equivalent cache sink: materialize only the newest ``retain``
    windows of the running result (Redis ZREMRANGEBYRANK semantics,
    repository.py:111-115) as a small serving parquet.

    ``metrics``: an optional ``prom.cache_metrics()`` dict — each batch
    then feeds the reference cache worker's Prometheus families
    (infrastructure/kafka/metrics.py / worker.py): records consumed,
    commit batches, batch apply latency, batch errors; the queue/
    pending gauges read 0 after a batch because this mirror applies
    synchronously inside foreachBatch (no intermediate queue)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from realtime_analytics_pipeline_spark.operators.serving import (
            retention_trim,
        )

        t0 = _time.time()
        try:
            # the record counter costs an extra action — only when the
            # caller asked for metrics; the unmetered hot path is
            # untouched
            n = batch_df.count() if metrics is not None else 0
            trimmed = retention_trim(batch_df, retain, time_col=time_col)
            trimmed.write.mode("overwrite").parquet(out_dir)
        except Exception:
            if metrics is not None:
                metrics["batch_errors"].inc()
            raise
        finally:
            if metrics is not None:
                metrics["batch_latency"].observe(_time.time() - t0)
        if metrics is not None:
            metrics["records"].inc(n)
            metrics["commit_batches"].inc()
            metrics["queue_size"].set(0)
            metrics["pending"].set(0)

    return write


def foreach_batch_resp_sink(
    repo,
    kind: str = "event",
) -> Callable[[DataFrame, int], None]:
    """S7 with the REAL wire protocol: each micro-batch of the pivot
    stream becomes one pipelined RESP batch against a Redis(-protocol)
    server — the exact HSET/EXPIRE/ZADD + trim sequence of reference
    repository.py:47-77, via resp.RespCacheRepository.

    ``kind``: "event" or "performance" — selects the dotted-field wire
    shape (message_parser.py:23-42) and the index the batch lands in.
    The collect is serving-sized by contract: the pivot stream emits
    per-window rows and the store retains ≤120 windows per type
    (cache config.py:23); nothing event-scale crosses the socket.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from realtime_analytics_pipeline_spark.http_api import (
            event_wire,
            perf_wire,
        )

        rows = batch_df.collect()
        payloads = (
            event_wire(rows) if kind == "event" else perf_wire(rows)
        )
        op_type = "event" if kind == "event" else "perf"
        ops = []
        for p in payloads:
            w = p.pop("window_start")
            ops.append({"type": op_type, "window_start": w, "fields": p})
        repo.pipeline_apply(ops)

    return write
