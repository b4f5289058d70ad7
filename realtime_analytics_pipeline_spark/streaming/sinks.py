"""Streaming sinks.

Reference parity (SURVEY §2.1 S5-S7, §2.6 T8, §2.5 X5):

- S5 Kafka JSON sink: append window rows as JSON values. Spark's Kafka
  sink is at-least-once; the reference's transactional exactly-once is
  replaced by idempotent-by-key downstream writes (deterministic
  window keys), the standard Spark pattern.
- S6 ClickHouse batch insert → ``foreach_batch_partitioned_parquet``:
  per-batch partition overwrite (idempotent per epoch, X5), partition
  + sort layout mirroring the MergeTree ORDER BY keys
  (ddl.py:11,24,35).
- S7 Redis windowed cache → ``foreach_batch_resp_sink``: each batch of
  the pivot stream is one RESP pipeline, one round trip, against a
  RESP server, the store ``http_api`` serves from: HSET/EXPIRE/ZADD
  per window plus the retention trim (T5) as a ZREMRANGEBYRANK in the
  same pipeline.
- T8 micro-batch size / retry discipline maps to
  ``maxOffsetsPerTrigger`` + checkpointing (offset commit after
  successful write comes free from the checkpoint protocol).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Row
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
    """S6-equivalent storage sink: each micro-batch is written under
    ``_part=<hour of partition_col>/_batch=<batch_id>`` and sorted
    within partitions — the Parquet analog of ClickHouse MergeTree
    ORDER BY (window_start, key). The dynamic partition overwrite
    replaces only the partitions this batch id writes, so batches in
    the same hour coexist and a replayed batch id (Spark reuses it on
    recovery) overwrites its own output: an exactly-once effect per
    epoch (X5). The overwrite mode is a writer option, so the
    session's ``partitionOverwriteMode`` is untouched."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        (
            batch_df.withColumn(
                "_part", F.date_format(partition_col, "yyyyMMddHH")
            )
            .withColumn("_batch", F.lit(batch_id))
            # the writer sorts each task by the partition columns first;
            # leading with them makes that sort this one, so the files
            # keep the ORDER BY within each partition
            .sortWithinPartitions("_part", "_batch", *sort_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_part", "_batch")
            .parquet(out_dir)
        )

    return write


# ---------------------------------------------------------------------------
# cache wire format (repository.py:80-140 / message_parser.py:23-42)
# ---------------------------------------------------------------------------


def _ms(ts: Any) -> int:
    return int(ts.timestamp() * 1000)


def _window_payload(row: Row, suffix_types: dict[str, type]) -> dict[str, Any]:
    """Pivot row -> the Redis-hash wire object: ``window_start`` epoch-ms
    int plus dotted ``<name>.<metric>`` fields; null pivot cells are
    DROPPED, matching a hash that never received that type's message."""
    d = row.asDict()
    out: dict[str, Any] = {"window_start": _ms(d.pop("window_start"))}
    d.pop("window_end", None)
    for col, val in d.items():
        if val is None:
            continue
        for suffix, typ in suffix_types.items():
            if col.endswith(f"_{suffix}"):
                name = col[: -len(suffix) - 1]
                out[f"{name}.{suffix}"] = typ(val)
                break
    return out


_EVENT_FIELDS = {"count": int, "users": int}
_PERF_FIELDS = {"avg_load_time": float, "p95_load_time": float}


def event_wire(rows: list[Row]) -> list[dict[str, Any]]:
    return [_window_payload(r, _EVENT_FIELDS) for r in rows]


def perf_wire(rows: list[Row]) -> list[dict[str, Any]]:
    return [_window_payload(r, _PERF_FIELDS) for r in rows]


def foreach_batch_resp_sink(
    repo,
    kind: str = "event",
    metrics: dict | None = None,
) -> Callable[[DataFrame, int], None]:
    """S7 with the REAL wire protocol: each micro-batch of the pivot
    stream becomes one RESP pipeline, one round trip, against a
    Redis(-protocol) server — the HSET/EXPIRE/ZADD writes of reference
    repository.py:47-77 with the retention trim riding the same
    pipeline as a ZREMRANGEBYRANK, via resp.RespCacheRepository.

    ``kind``: "event" or "performance" — selects the dotted-field wire
    shape (message_parser.py:23-42) and the index the batch lands in.
    The collect is serving-sized by contract: the pivot stream emits
    per-window rows and the store retains ≤120 windows per type
    (cache config.py:23); nothing event-scale crosses the socket.

    ``metrics``: an optional ``prom.cache_metrics()`` dict — each batch
    then feeds the reference cache worker's Prometheus families
    (infrastructure/kafka/metrics.py / worker.py): records consumed
    (the batch's rows), commit batches, batch apply latency, batch
    errors; the queue/pending gauges read 0 after a batch because the
    sink applies synchronously inside foreachBatch (no intermediate
    queue).
    """
    wire = event_wire if kind == "event" else perf_wire
    op_type = "event" if kind == "event" else "perf"

    def apply(batch_df: DataFrame) -> int:
        rows = batch_df.collect()
        ops = []
        for p in wire(rows):
            w = p.pop("window_start")
            ops.append({"type": op_type, "window_start": w, "fields": p})
        repo.pipeline_apply(ops)
        return len(rows)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if metrics is None:
            apply(batch_df)
            return
        t0 = time.time()
        try:
            n = apply(batch_df)
        except Exception:
            metrics["batch_errors"].inc()
            raise
        finally:
            metrics["batch_latency"].observe(time.time() - t0)
        metrics["records"].inc(n)
        metrics["commit_batches"].inc()
        metrics["queue_size"].set(0)
        metrics["pending"].set(0)

    return write
