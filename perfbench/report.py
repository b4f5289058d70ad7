"""Metrics and output checks from the records of one run."""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from realtime_analytics_pipeline_spark.streaming.metrics import progress_summary

from perfbench import checks, events
from perfbench.pipeline import JOB_SINKS, iso_ms
from perfbench.stats import median, percentile
from perfbench.system import PRIME_BASE_MS, PRIME_EVENTS, twin_rows

WINDOW_MS = checks.WINDOW_MS
LATE_BOUND_MS = 50.0  # generator self-lateness p99 above this marks a run invalid

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "result_latency_p50_s": "s",
    "result_latency_p90_s": "s",
    "events_per_s": "1/s",
}

_JOB_LAYER = {
    "triggers": "count",
    "trigger_ms_p50": "ms",
    "add_batch_ms_p50": "ms",
    "query_planning_ms_p50": "ms",
    "wal_commit_ms_p50": "ms",
    "commit_offsets_ms_p50": "ms",
    "input_rows": "count",
    "state_rows_max": "count",
    "state_bytes_max": "bytes",
    "dropped_by_watermark": "count",
}

_LOADGEN = {
    "loadgen.ingest_p50_ms": "ms",
    "loadgen.ingest_p99_ms": "ms",
    "loadgen.read_p50_ms": "ms",
    "loadgen.read_p99_ms": "ms",
    "loadgen.late_p99_ms": "ms",
    "loadgen.sent": "count",
    "loadgen.achieved_rate": "1/s",
    "loadgen.valid": "count",
}

PER_LAYER = {
    "ingestion_api.validate_us_p50": "us",
    "ingestion_api.send_us_p50": "us",
    "ingestion_api.flush_ms_p50": "ms",
    "ingestion_api.flush_rows_mean": "count",
    "ingestion_api.flushes": "count",
    "sources.feed.produce_ms_p50": "ms",
    "sources.feed.latest_offset_ms_p50": "ms",
    "sources.feed.get_batch_ms_p50": "ms",
    "sources.feed.lag_events_max": "count",
    **{f"streaming.{job}.{m}": u for job in JOB_SINKS for m, u in _JOB_LAYER.items()},
    "streaming.sinks.storage_ms_p50": "ms",
    "streaming.sinks.cache_ms_p50": "ms",
    "streaming.sinks.batches": "count",
    "streaming.sinks.batch_errors": "count",
    "resp.pipeline_apply_ms_p50": "ms",
    "resp.ops": "count",
    "session.active_queries_end": "count",
    "session.catalog_tables_end": "count",
    **_LOADGEN,
    **{f"traced.{m}": u for m, u in END_TO_END.items()},
}


def _self_late_ms(posts) -> list[float]:
    """How late the generator itself sent each POST: send time minus the
    later of its due time and the previous reply (one connection cannot
    send before that reply; that wait is the server's)."""
    out, prev_done = [], float("-inf")
    for due, late, lat, _status in posts:
        due_ms = due * 1e3
        out.append(due_ms + late - max(due_ms, prev_done))
        prev_done = due_ms + lat
    return out


class Run:
    """Derived views of one run's records."""

    def __init__(self, rec: dict, wl) -> None:
        self.rec, self.wl = rec, wl
        lg = rec.get("loadgen", {"posts": [], "reads": []})
        self.posts, self.reads = lg["posts"], lg["reads"]
        self.timed_posts = [p for p in self.posts if p[0] >= wl.warm_s]
        self.timed_reads = [r for r in self.reads if r[1] >= wl.warm_s]
        self.accepted = np.array([p[3] == 202 for p in self.posts], bool)
        self.offsets = np.arange(len(self.posts)) / wl.rate if wl.rate else np.zeros(0)

    @property
    def attempted(self) -> int:
        """Operations offered: POSTs and reads (live), events (replay)."""
        return len(self.posts) + len(self.reads) + self.wl.backlog

    def canonical(self) -> pa.Table:
        """Every event the pipeline accepted, in canonical columns."""
        rec, seed, wl = self.rec, self.rec["seed"], self.wl
        parts = [events.canonical_bodies([events.closing_payload(seed, rec["close_ms"])])]
        if wl.backlog:
            parts.append(events.canonical(seed, "backlog", wl.backlog,
                                          np.arange(wl.backlog) / events.BACKLOG_RATE))
        else:
            parts.append(events.canonical(seed, "prime", PRIME_EVENTS,
                                          np.arange(PRIME_EVENTS) / wl.rate, PRIME_BASE_MS))
            parts.append(events.canonical(seed, "live", len(self.posts), self.offsets,
                                          events.BASE_MS, self.accepted))
        return pa.concat_tables(parts)

    def watermark_ms(self, job: str) -> int:
        """The job's last watermark: its results up to it are final."""
        return iso_ms(self.rec["progress"][job][-1]["eventTime"]["watermark"])

    def dropped(self, job: str) -> int:
        return sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in self.rec["progress"][job]
            for op in p.get("stateOperators", [])
        )

    def live_window_latencies(self) -> tuple[list[float], int, float]:
        """(latencies s, windows never cached, last cache write) of the
        event windows whose events were all sent in the timed phase: the
        time the window was written to the cache, where the next read
        sees it, minus the send time of its last event of an allowed
        type."""
        rec, wl = self.rec, self.wl
        cols = events.columns(rec["seed"], "live", 0, len(self.posts))
        ts = events.event_ms(self.offsets, cols["late_ms"])
        allowed = (cols["type"] < len(events.ALLOWED_TYPES)) & self.accepted
        created = rec["start_at"] + self.offsets
        first_ws = -(-int(events.event_ms(wl.warm_s)) // WINDOW_MS) * WINDOW_MS
        last_end = int(ts.max())
        last_created: dict[int, float] = {}
        for w, c in zip((ts - ts % WINDOW_MS)[allowed], created[allowed]):
            if first_ws <= w and w + WINDOW_MS <= last_end:
                last_created[int(w)] = max(last_created.get(int(w), 0.0), c)
        cached = rec["cache_stored"]
        lat, uncached, last = [], 0, rec["t_timed"]
        for w, c in last_created.items():
            t = cached.get(("event", w))
            if t is None:
                uncached += 1
                continue
            lat.append(t - c)
            last = max(last, t)
        return lat, uncached, last

    def replay_window_latencies(self) -> list[float]:
        """Backlog event windows: written to the cache minus drain start."""
        t0 = self.rec["t_timed"]
        return [t - t0 for (kind, _w), t in self.rec["cache_stored"].items() if kind == "event"]

    def drain_end(self) -> float:
        """Wall time the last result of any job was stored."""
        return max(b[1] for batches in self.rec["batches"].values() for b in batches)

    def failed(self, failed_events: int) -> int:
        n = sum(p[3] != 202 for p in self.posts) + sum(not r[3] for r in self.reads)
        if not self.wl.backlog:
            n += self.live_window_latencies()[1]  # windows never cached
        return int(n + failed_events)


def end_to_end(run: Run) -> dict[str, float]:
    rec, wl = run.rec, run.wl
    if wl.backlog:
        lat = run.replay_window_latencies()
        eps = wl.backlog / (run.drain_end() - rec["t_timed"])
    else:
        lat, _uncached, last = run.live_window_latencies()
        timed_events = int(run.accepted[run.offsets >= wl.warm_s].sum())
        eps = timed_events / (last - rec["t_timed"])
    return {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec["peak_rss_bytes"] / 2**20,
        "result_latency_p50_s": median(lat),
        "result_latency_p90_s": percentile(lat, 0.9),
        "events_per_s": eps,
    }


def loadgen_metrics(run: Run) -> dict[str, float]:
    """Request latencies from the scheduled send time, and whether the
    generator kept its schedule (a run it could not drive is invalid,
    not a regression). All zero, and valid, without a generator."""
    if not run.posts:
        return {**{k: 0.0 for k in _LOADGEN}, "loadgen.valid": 1.0}
    ingest = [p[2] for p in run.timed_posts if p[3] == 202]
    reads = [r[2] for r in run.timed_reads if r[3]]
    late_p99 = percentile(_self_late_ms(run.timed_posts), 0.99)
    dur = run.timed_posts[-1][0] - run.timed_posts[0][0]
    return {
        "loadgen.ingest_p50_ms": median(ingest),
        "loadgen.ingest_p99_ms": percentile(ingest, 0.99),
        "loadgen.read_p50_ms": median(reads),
        "loadgen.read_p99_ms": percentile(reads, 0.99),
        "loadgen.late_p99_ms": late_p99,
        "loadgen.sent": float(len(run.posts)),
        "loadgen.achieved_rate": (len(run.timed_posts) - 1) / dur,
        "loadgen.valid": float(late_p99 <= LATE_BOUND_MS),
    }


def per_layer(run: Run, tracer, traced_e2e: dict[str, float]) -> dict[str, float]:
    rec = run.rec
    spans = {**tracer.spans, **tracer.worker_spans()}

    def ms(name: str) -> list[float]:
        return [s * 1e3 for s in spans.get(name, [])]

    flush_rows = [n for n in tracer.flush_rows if n]
    out = {
        "ingestion_api.validate_us_p50": median(ms("ingestion_api.validate")) * 1e3,
        "ingestion_api.send_us_p50": median(ms("ingestion_api.send")) * 1e3,
        "ingestion_api.flush_ms_p50": median(ms("ingestion_api.flush")),
        "ingestion_api.flush_rows_mean": float(np.mean(flush_rows)) if flush_rows else 0.0,
        "ingestion_api.flushes": float(len(flush_rows)),
        "sources.feed.produce_ms_p50": median(ms("sources.feed.produce")),
        "sources.feed.latest_offset_ms_p50": median(ms("sources.feed.latest_offset")),
        "sources.feed.get_batch_ms_p50": median(ms("sources.feed.get_batch")),
        "sources.feed.lag_events_max": float(rec.get("lag_events_max", 0)),
    }
    for job, progress in rec["progress"].items():
        def dur(key: str, progress=progress) -> list[float]:
            return [p["durationMs"][key] for p in progress if key in p["durationMs"]]

        summaries = [progress_summary(p) for p in progress]
        pre = f"streaming.{job}."
        out.update({
            pre + "triggers": float(len(progress)),
            pre + "trigger_ms_p50": median(dur("triggerExecution")),
            pre + "add_batch_ms_p50": median(dur("addBatch")),
            pre + "query_planning_ms_p50": median(dur("queryPlanning")),
            pre + "wal_commit_ms_p50": median(dur("walCommit")),
            pre + "commit_offsets_ms_p50": median(dur("commitOffsets")),
            pre + "input_rows": float(sum(s["num_input_rows"] for s in summaries)),
            pre + "state_rows_max": float(max((s["state_rows"] for s in summaries), default=0)),
            pre + "state_bytes_max": float(max((s["state_bytes"] for s in summaries), default=0)),
            pre + "dropped_by_watermark": float(run.dropped(job)),
        })
    batches = [b for bs in rec["batches"].values() for b in bs]
    out.update({
        "streaming.sinks.storage_ms_p50": median([b[2] * 1e3 for b in batches]),
        "streaming.sinks.cache_ms_p50": median([b[3] * 1e3 for b in batches if b[3] > 0]),
        "streaming.sinks.batches": float(len(batches)),
        "streaming.sinks.batch_errors": float(rec["batch_errors"]),
        "resp.pipeline_apply_ms_p50": median(ms("resp.pipeline_apply")),
        "resp.ops": float(tracer.counts.get("resp.pipeline_apply", 0)),
        "session.active_queries_end": float(rec["active_queries_end"]),
        "session.catalog_tables_end": float(rec["catalog_tables_end"]),
    })
    out.update(loadgen_metrics(run))
    out.update({f"traced.{k}": v for k, v in traced_e2e.items()})
    return out


def check(spark, run: Run, run_dir: str) -> tuple[list[str], int]:
    """Output checks; returns (problems, events dropped by a watermark)."""
    rec = run.rec
    problems = list(rec["errors"])
    if not rec["finalized"]:
        problems.append("the queries did not finalize the closing watermark in time")
    if run.posts and rec["loadgen"]["closing_status"] != 202:
        problems.append("closing event refused")
    table = run.canonical()
    path = os.path.join(run_dir, "canonical.parquet")
    pq.write_table(table, path)
    stored = {job: [r[:-1] for r in rows] for job, rows in rec["stored"].items()}

    # every accepted allowed event counted once, or reported dropped
    allowed = table.filter(pc.is_in(table["event_type"], pa.array(events.ALLOWED_TYPES)))
    expected = checks.expected_event_counts(zip(
        allowed["event_ms"].to_pylist(), allowed["event_type"].to_pylist(),
        allowed["user_id"].to_pylist()))
    problems += checks.check_event_counts(
        expected, stored["event_metrics"], run.watermark_ms("event_metrics"),
        run.dropped("event_metrics"))

    # stored outputs equal the batch twins on the same events
    twins = twin_rows(spark, path, {job: run.watermark_ms(job) for job in JOB_SINKS})
    for job, n_keys in (("event_metrics", 2), ("performance_metrics", 2), ("session_metrics", 3)):
        problems += checks.compare_rows(job, stored[job], twins[job], n_keys)
    if not twins["event_metrics"]:
        problems.append("no finalized event window")
    return problems, sum(run.dropped(job) for job in rec["progress"])
