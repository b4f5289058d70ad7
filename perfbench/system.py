"""The system under test: one process holding the Spark driver, the
ingestion server, the cache server and the pipeline. It starts the
load generator as a separate process, runs one workload and returns
the raw records the metrics and checks are computed from."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG
from realtime_analytics_pipeline_spark.operators.event_metrics import event_metrics
from realtime_analytics_pipeline_spark.operators.performance_metrics import (
    performance_metrics,
)
from realtime_analytics_pipeline_spark.operators.session_metrics import session_metrics
from realtime_analytics_pipeline_spark.sources.feed import produce_keyed

from perfbench import events
from perfbench.pipeline import BATCH_COL, TRIGGER_S, Pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
PAGE = os.sysconf("SC_PAGE_SIZE")

PRIME_EVENTS = 200  # live: sent before the queries start, the feed needs a first file
PRIME_BASE_MS = events.BASE_MS - 600_000  # ends minutes before the first live event
CLOSE_AHEAD_MS = 3 * 3600 * 1000  # closing event: past every window and session
SESSION_GAP_MS = 30 * 60 * 1000
WATERMARK_MS = 10_000
FINALIZE_TIMEOUT_S = 60.0
TRIGGER_ALIGN_S = 1.0


@dataclass(frozen=True)
class Workload:
    """Load shape of one workload (see NOTES.md for the why)."""

    name: str
    rate: float  # POSTs per second
    read_rate: float  # cache reads per second
    warm_s: float  # untimed load before the timed phase
    backlog: int  # events produced to the feed during set-up


WORKLOADS = {
    # POSTs: a quarter of the closed-loop ceiling under load (NOTES.md);
    # at half of it the micro-batches overran the trigger interval.
    # Reads: an assumption (the reference records no dashboard poll
    # interval): one read per four POSTs, several reads per event window.
    "live_pipeline": Workload("live_pipeline", rate=300.0, read_rate=75.0, warm_s=1.0, backlog=0),
    # no HTTP and no reads; the queries start cold, as after a restart
    "stream_replay": Workload("stream_replay", rate=0.0, read_rate=0.0, warm_s=0.0, backlog=40_000),
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its JVM child, from
    /proc. (Spark's Python workers are forked from a shared daemon;
    summing their RSS would count shared pages many times.)"""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.jvm_pid: int | None = None
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in (os.getpid(), self.jvm_pid):
            if pid is None:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class LoadGen:
    """The load-generator process (perfbench/loadgen.py)."""

    def __init__(self, wl: Workload, seed: int, pipe: Pipeline, count: int,
                 close_ms: int, out: str) -> None:
        self.out = out
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "loadgen.py"),
                "--http-port", str(pipe.ingest.port),
                "--redis-port", str(pipe.redis.port),
                "--seed", str(seed), "--rate", str(wl.rate),
                "--read-rate", str(wl.read_rate), "--count", str(count),
                "--close-ms", str(close_ms),
                "--out", out,
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def go(self, start_at: float) -> None:
        self.proc.stdin.write(f"{start_at!r}\n")
        self.proc.stdin.flush()

    def wait_posts_done(self) -> None:
        line = self.proc.stdout.readline()
        if line.strip() != "posts_done":
            raise RuntimeError(f"load generator ended early: {line!r}")

    def finish(self) -> dict:
        import json

        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        self.proc.wait(timeout=60)
        if self.proc.returncode != 0:
            raise RuntimeError(f"load generator exited {self.proc.returncode}")
        with open(self.out) as fh:
            return json.load(fh)

    def kill(self) -> None:
        """Stop the process if it is still running; wait for it either way."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def _send_direct(pipe: Pipeline, bodies) -> None:
    for body in bodies:
        pipe.ingest.producer.send(body)
    pipe.ingest.flush(pipe.spark)


def _offsets(n: int, rate: float) -> np.ndarray:
    return np.arange(n) / rate


def _produce_backlog(spark, pipe: Pipeline, seed: int, n: int, close_ms: int) -> None:
    """Produce the seeded backlog and the closing event to the feed as
    one keyed epoch in one file (so a trigger never sees part of it)."""
    path = os.path.join(pipe.run_dir, "backlog.parquet")
    bodies = events.payloads(seed, "backlog", 0, n, _offsets(n, events.BACKLOG_RATE))
    bodies.append(events.closing_payload(seed, close_ms))
    pq.write_table(pa.table({
        "user_id": [b["user"]["id"] for b in bodies],
        "seq": pa.array(range(len(bodies)), pa.int64()),
        "value": [events.encode(b).decode() for b in bodies],
    }), path)
    produce_keyed(spark.read.parquet(path), pipe.feed_path, key_col="user_id",
                  seq_col="seq", num_partitions=1)


def run(spark, wl: Workload, seed: int, seconds: float, run_dir: str, t_process: float,
        rss: RssSampler, tracer=None) -> dict:
    """Run one workload; return the raw records."""
    rec: dict = {"seed": seed, "phases": {"spark": time.time() - t_process}}
    if tracer is not None:
        tracer.install()
    pipe = Pipeline(spark, run_dir)
    try:
        if wl.backlog:
            _run_replay(spark, wl, seed, pipe, rec, t_process)
        else:
            _run_live(wl, seed, seconds, pipe, rec, t_process, tracer)
        rss.sample()
        rec["peak_rss_bytes"] = rss.peak_bytes
        pipe.stop_flushing()
        rec["progress"] = {job: list(q.recentProgress) for job, q in pipe.queries.items()}
        rec["errors"] = [str(q.exception()) for q in pipe.queries.values() if q.exception()]
        rec["errors"] += [repr(e) for e in pipe.flush_errors]
        rec["batches"] = pipe.batches
        rec["batch_errors"] = len(pipe.sink_errors)
        rec["cache_stored"] = pipe.repo.stored
        rec["stored"] = collect_stored(spark, pipe)
    finally:
        pipe.stop_flushing()
        pipe.stop()
    return rec


def _run_replay(spark, wl: Workload, seed: int, pipe: Pipeline, rec: dict, t_process: float) -> None:
    """Set-up: the backlog and one closing event are in the feed. Timed:
    from the queries' start until every finalized result is stored."""
    close_ms = int(events.event_ms(wl.backlog / events.BACKLOG_RATE)) + CLOSE_AHEAD_MS
    _produce_backlog(spark, pipe, seed, wl.backlog, close_ms)
    t_timed = time.time()
    rec.update(close_ms=close_ms, t_timed=t_timed, setup_s=t_timed - t_process)
    pipe.start_queries()
    rec["finalized"] = pipe.wait_finalized(close_ms - WATERMARK_MS, FINALIZE_TIMEOUT_S)
    rec["phases"]["finalized"] = time.time() - t_process


def _run_live(wl: Workload, seed: int, seconds: float, pipe: Pipeline, rec: dict,
              t_process: float, tracer) -> None:
    """Set-up: prime events, the queries' first batches, then ``warm_s``
    of load. Timed: ``seconds`` of open-loop load, then a closing event
    and the wait until it finalized every window."""
    phases = rec["phases"]
    count = int(round(wl.rate * (wl.warm_s + seconds)))
    close_ms = int(events.event_ms(count / wl.rate, 0, events.BASE_MS)) + CLOSE_AHEAD_MS
    rec["close_ms"] = close_ms
    loadgen = LoadGen(wl, seed, pipe, count, close_ms, os.path.join(pipe.run_dir, "loadgen.json"))
    try:
        _send_direct(pipe, events.payloads(seed, "prime", 0, PRIME_EVENTS,
                                           _offsets(PRIME_EVENTS, wl.rate), PRIME_BASE_MS))
        phases["prime"] = time.time() - t_process
        pipe.start_queries()
        pipe.wait_first_batches()
        phases["first_batches"] = time.time() - t_process
        pipe.start_flushing()
        # the timed phase starts TRIGGER_ALIGN_S past a trigger instant
        t_timed = time.time() + 0.3 + wl.warm_s
        t_timed += (TRIGGER_ALIGN_S - t_timed) % TRIGGER_S
        start_at = t_timed - wl.warm_s
        loadgen.go(start_at)
        rec.update(start_at=start_at, t_timed=t_timed, setup_s=t_timed - t_process)
        lag = LagSampler(pipe, tracer) if tracer else None
        loadgen.wait_posts_done()
        phases["posts_done"] = time.time() - t_process
        rec["finalized"] = pipe.wait_finalized(close_ms - WATERMARK_MS, FINALIZE_TIMEOUT_S)
        phases["finalized"] = time.time() - t_process
        if lag:
            rec["lag_events_max"] = lag.stop()
        rec["loadgen"] = loadgen.finish()
    finally:
        loadgen.kill()


class LagSampler(threading.Thread):
    """Accepted-but-unconsumed events: events the producer accepted minus
    rows the event_metrics query has read, sampled every 250 ms."""

    def __init__(self, pipe: Pipeline, tracer) -> None:
        super().__init__(daemon=True)
        self.pipe, self.tracer = pipe, tracer
        self.base = len(tracer.spans["ingestion_api.send"])
        self.max_lag = 0
        self._stop_evt = threading.Event()
        self.start()

    def run(self) -> None:
        q = self.pipe.queries["event_metrics"]
        consumed, seen = 0, set()
        while not self._stop_evt.wait(0.25):
            last = q.lastProgress
            if last is not None and last["batchId"] not in seen:
                seen.add(last["batchId"])
                consumed += last["numInputRows"]
            accepted = len(self.tracer.spans["ingestion_api.send"]) - self.base
            self.max_lag = max(self.max_lag, accepted - consumed)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.max_lag


def _output_cols() -> dict[str, list]:
    """Each job's compared output columns, times as epoch ms."""
    ms = F.unix_millis
    return {
        "event_metrics": [ms("window_start"), "event_type", "event_count", "user_count"],
        "performance_metrics": [ms("window_start"), "device_category",
                                "avg_load_time", "p95_load_time"],
        "session_metrics": ["session_id", "user_id", ms("start_time"), ms("end_time"),
                            "duration", "page_count"],
    }


def collect_stored(spark, pipe: Pipeline) -> dict[str, list[tuple]]:
    """Every stored output row, with its micro-batch id last."""
    batch = (F.unix_seconds(BATCH_COL) / 3600).cast("long")
    out = {}
    for job, cols in _output_cols().items():
        path = pipe.out_dir(job)
        rows = spark.read.parquet(path).select(*cols, batch).collect() if os.path.isdir(path) else []
        out[job] = [tuple(r) for r in rows]
    return out


def twin_rows(spark, canonical_path: str, watermark_ms: dict[str, int]) -> dict[str, list[tuple]]:
    """The batch operators on the same events (a parquet file of
    ``events.canonical`` rows), restricted to the results each job has
    finalized at its watermark."""
    ev = (
        spark.read.parquet(canonical_path)
        .withColumn("event_time", F.timestamp_millis("event_ms"))
        .withColumn("value", F.col("load_time").cast("double"))
    )
    window_end, session_end = F.unix_millis("window_end"), F.unix_millis("end_time") + SESSION_GAP_MS
    finalized = {
        "event_metrics": event_metrics(ev, config=DEFAULT_CONFIG).where(
            window_end <= watermark_ms["event_metrics"]),
        "performance_metrics": performance_metrics(ev, config=DEFAULT_CONFIG).where(
            window_end <= watermark_ms["performance_metrics"]),
        "session_metrics": session_metrics(ev, config=DEFAULT_CONFIG).where(
            session_end <= watermark_ms["session_metrics"]),
    }
    return {
        job: [tuple(r) for r in finalized[job].select(*cols).collect()]
        for job, cols in _output_cols().items()
    }
