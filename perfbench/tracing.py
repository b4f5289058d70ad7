"""Per-layer spans for the traced run, recorded from the benchmark's side.

``Tracer.install`` wraps the public functions each layer exposes:

- ingestion_api: ``validate_event``, ``BufferedEventProducer.send``,
  ``IngestionHttpServer.flush``;
- sources.feed: ``produce_keyed`` (as the ingestion server calls it),
  and the ``rtap_feed`` stream reader's ``latestOffset`` and ``read``
  through ``TracedFeedDataSource``, registered in place of the plain
  source;
- resp: ``RespCacheRepository.pipeline_apply``.

The stream reader runs in Spark's Python worker processes, so its
spans are appended to files under ``PERFBENCH_TRACE_DIR``, which must
be set before the JVM starts (the workers inherit its environment);
all other
spans stay in memory. Streaming and sink layers need no wrapper: the
queries report their own progress and the sinks are timed anyway.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

from realtime_analytics_pipeline_spark.sources.feed import (
    EventFeedDataSource,
    FeedStreamReader,
)

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"


def _append_span(name: str, seconds: float) -> None:
    path = os.path.join(os.environ[TRACE_DIR_ENV], f"feed-{os.getpid()}.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps([name, seconds]) + "\n")


class TracedFeedStreamReader(FeedStreamReader):
    def latestOffset(self) -> dict:
        t0 = time.perf_counter()
        out = super().latestOffset()
        _append_span("latest_offset", time.perf_counter() - t0)
        return out

    def read(self, partition):
        t0 = time.perf_counter()
        batches = list(super().read(partition))
        _append_span("get_batch", time.perf_counter() - t0)
        yield from batches


class TracedFeedDataSource(EventFeedDataSource):
    def streamReader(self, schema):
        return TracedFeedStreamReader(self.options)


class Tracer:
    def __init__(self, trace_dir: str) -> None:
        self.trace_dir = trace_dir
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)
        self.flush_rows: list[int] = []

    def _wrap(self, owner, attr: str, span: str, count=None) -> None:
        fn = getattr(owner, attr)
        spans, counts = self.spans[span], self.counts

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                spans.append(time.perf_counter() - t0)
            if count is not None:
                counts[span] += count(args, out)
            return out

        setattr(owner, attr, timed)

    def install(self) -> None:
        """Wrap the layers for the rest of this process."""
        from realtime_analytics_pipeline_spark import ingestion_api, resp
        from realtime_analytics_pipeline_spark.sources import feed

        os.makedirs(self.trace_dir, exist_ok=True)
        self._wrap(ingestion_api, "validate_event", "ingestion_api.validate")
        self._wrap(ingestion_api.BufferedEventProducer, "send", "ingestion_api.send")
        self._wrap(
            ingestion_api.IngestionHttpServer, "flush", "ingestion_api.flush",
            count=lambda args, n: self.flush_rows.append(n) or n,
        )
        self._wrap(ingestion_api, "produce_keyed", "sources.feed.produce")
        self._wrap(
            resp.RespCacheRepository, "pipeline_apply", "resp.pipeline_apply",
            count=lambda args, out: len(args[1]),
        )

        def register_traced(spark) -> None:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
            spark.dataSource.register(TracedFeedDataSource)

        feed.register_feed_source = register_traced

    def worker_spans(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for name in os.listdir(self.trace_dir):
            if name.startswith("feed-"):
                with open(os.path.join(self.trace_dir, name)) as fh:
                    for line in fh:
                        span, seconds = json.loads(line)
                        out[f"sources.feed.{span}"].append(seconds)
        return out
