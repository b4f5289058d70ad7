"""The live pipeline, assembled only from the program's public functions.

    IngestionHttpServer --flush(spark) every LINGER_S--> feed table
      (produce_keyed)
    spark.readStream.format("rtap_feed") + streaming.jobs.parse_wire_json
    streaming.coordinator.standard_jobs, one query each, processing-time
      trigger, one foreachBatch per query that writes
        storage: streaming.sinks.foreach_batch_partitioned_parquet
        cache:   operators.serving pivot -> streaming.sinks.foreach_batch_resp_sink
                 -> resp.MiniRedisServer  (event and performance jobs)

The storage sink is partitioned by micro-batch, not by the default
``window_start`` hour: its dynamic partition overwrite replaces a whole
hour partition with each batch, so on a live stream a later batch
would erase the windows earlier batches stored in the same hour.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG
from realtime_analytics_pipeline_spark.ingestion_api import IngestionHttpServer
from realtime_analytics_pipeline_spark.operators import serving
from realtime_analytics_pipeline_spark.resp import (
    MiniRedisServer,
    RespCacheRepository,
    RespClient,
)
from realtime_analytics_pipeline_spark.sources import feed
from realtime_analytics_pipeline_spark.streaming.coordinator import standard_jobs
from realtime_analytics_pipeline_spark.streaming.jobs import parse_wire_json
from realtime_analytics_pipeline_spark.streaming.sinks import (
    foreach_batch_partitioned_parquet,
    foreach_batch_resp_sink,
)

from perfbench.events import ALLOWED_TYPES, EVENT_TYPES

LINGER_S = 0.5  # producer flush cadence (the linger.ms analog)
# Processing-time triggers fire at wall-clock multiples of the interval,
# so a timed phase that starts at a fixed offset from that grid and
# lasts whole intervals meets the same trigger phases in every run.
TRIGGER_S = 5
BATCH_COL = "_batch_hour"  # one storage partition per micro-batch
FIRST_BATCH_TIMEOUT_S = 60.0

# job -> (cache kind or None, storage sort columns)
JOB_SINKS = {
    "event_metrics": ("event", ("window_start", "event_type")),
    "performance_metrics": ("performance", ("window_start", "device_category")),
    "session_metrics": (None, ("session_id", "start_time")),
}


class RecordingRepository(RespCacheRepository):
    """The cache repository, noting when each window was written."""

    def __init__(self, client: RespClient) -> None:
        super().__init__(client)
        self.stored: dict[tuple[str, int], float] = {}

    def pipeline_apply(self, ops: list[dict]) -> None:
        super().pipeline_apply(ops)
        now = time.time()
        for op in ops:
            self.stored.setdefault((op["type"], op["window_start"]), now)


class Pipeline:
    """Servers, producer flush loop and the three streaming queries."""

    def __init__(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.feed_path = os.path.join(run_dir, "feed")
        self.redis = MiniRedisServer()
        self.repo = RecordingRepository(RespClient("127.0.0.1", self.redis.port))
        # one partition per flush: each flush lands as ONE file, so a
        # trigger never sees half of a flush
        self.ingest = IngestionHttpServer(self.feed_path, num_partitions=1)
        self.queries: dict[str, object] = {}
        # job -> [(batch_id, wall end, storage s, cache s)]
        self.batches: dict[str, list[tuple[int, float, float, float]]] = {
            j: [] for j in JOB_SINKS
        }
        self.sink_errors: list[str] = []
        self.flush_errors: list[BaseException] = []
        self._stop = threading.Event()
        self._flusher: threading.Thread | None = None

    def out_dir(self, job: str) -> str:
        return os.path.join(self.run_dir, "out", job)

    # -- producer ---------------------------------------------------------
    def start_flushing(self) -> None:
        self._flusher = threading.Thread(target=self._flush_loop, daemon=True)
        self._flusher.start()

    def _flush_loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.perf_counter()
            try:
                self.ingest.flush(self.spark)
            except Exception as e:  # noqa: BLE001 — reported by the run
                self.flush_errors.append(e)
            self._stop.wait(max(0.0, LINGER_S - (time.perf_counter() - t0)))
        self.ingest.flush(self.spark)

    def stop_flushing(self) -> None:
        self._stop.set()
        if self._flusher is not None:
            self._flusher.join()

    # -- queries ----------------------------------------------------------
    def _sink(self, job: str):
        kind, sort_cols = JOB_SINKS[job]
        storage = foreach_batch_partitioned_parquet(
            self.out_dir(job), partition_col=BATCH_COL, sort_cols=sort_cols
        )
        cache = foreach_batch_resp_sink(self.repo, kind) if kind else None
        pivot_keys = ALLOWED_TYPES if kind == "event" else EVENT_TYPES

        def write(batch_df, batch_id: int) -> None:
            batch_df.persist()
            try:
                t0 = time.perf_counter()
                storage(
                    batch_df.withColumn(
                        BATCH_COL, F.timestamp_seconds(F.lit(batch_id * 3600))
                    ),
                    batch_id,
                )
                t1 = time.perf_counter()
                if cache is not None:
                    pivot = (
                        serving.pivot_event_metrics(batch_df, pivot_keys)
                        if kind == "event"
                        else serving.pivot_performance_metrics(batch_df, pivot_keys)
                    )
                    cache(pivot, batch_id)
                t2 = time.perf_counter()
            except Exception as e:
                self.sink_errors.append(repr(e))
                raise
            finally:
                batch_df.unpersist()
            self.batches[job].append((batch_id, time.time(), t1 - t0, t2 - t1))

        return write

    def start_queries(self) -> None:
        feed.register_feed_source(self.spark)
        raw = (
            self.spark.readStream.format(feed.FEED_FORMAT)
            .option("path", self.feed_path)
            .load()
        )
        events = parse_wire_json(raw, DEFAULT_CONFIG.watermark_delay)
        for job, build in standard_jobs(DEFAULT_CONFIG).items():
            self.queries[job] = (
                build(events)
                .writeStream.queryName(f"perfbench_{job}")
                .foreachBatch(self._sink(job))
                .option(
                    "checkpointLocation",
                    os.path.join(self.run_dir, "checkpoints", job),
                )
                .outputMode("append")
                .trigger(processingTime=f"{TRIGGER_S} seconds")
                .start()
            )

    def wait_first_batches(self) -> None:
        """Block until every query has completed its first micro-batch."""
        deadline = time.time() + FIRST_BATCH_TIMEOUT_S
        for q in self.queries.values():
            while q.lastProgress is None:
                if q.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"query {q.name} did not start: {q.exception()}")
                time.sleep(0.05)

    def wait_finalized(self, watermark_ms: int, timeout_s: float) -> bool:
        """Wait until every query has completed a batch that ran with a
        watermark of at least ``watermark_ms``: that batch emitted every
        append-mode result the watermark finalizes."""
        deadline = time.time() + timeout_s
        for q in self.queries.values():
            while True:
                if q.exception() is not None or time.time() > deadline:
                    return False
                wm = (q.lastProgress or {}).get("eventTime", {}).get("watermark")
                if wm is not None and iso_ms(wm) >= watermark_ms:
                    break
                time.sleep(0.05)
        return True

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.ingest.close()
        self.repo.r.close()
        self.redis.close()


def iso_ms(iso: str) -> int:
    """A progress report's ISO-8601 UTC time as epoch milliseconds."""
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)
