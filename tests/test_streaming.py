"""Structured Streaming tests: batch/stream parity, watermark late-drop,
wire-JSON parsing, idempotent partitioned sink."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators.event_metrics import (
    event_metrics,
    event_metrics_exact_streaming,
)
from realtime_analytics_pipeline_spark.schema import normalize_testdata_events
from realtime_analytics_pipeline_spark.sources.batch import load_events, load_table
from realtime_analytics_pipeline_spark.streaming import sinks
from realtime_analytics_pipeline_spark.streaming.jobs import (
    parse_wire_json,
    read_events_stream_from_dir,
    run_to_memory_table,
)

from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_complete_mode_equals_batch(spark, tmp_path):
    """availableNow + complete mode over multi-file input must equal
    the batch result exactly (no watermark eviction in complete).
    Distinct-free aggregation (exact distinct in streaming is covered
    by the append tests)."""
    src = str(tmp_path / "stream_src")
    raw = load_table(spark, SF_SMOKE, "events")
    write_time_ordered_stream_fixture(raw, src, 4)

    def counts(df):
        return (
            df.groupBy(F.window("event_time", "60 seconds"), "event_type")
            .agg(F.count(F.lit(1)).alias("event_count"))
            .select("window.start", "window.end", "event_type", "event_count")
        )

    stream = read_events_stream_from_dir(spark, src)
    got = _rows_set(run_to_memory_table(counts(stream), output_mode="complete"))
    want = _rows_set(counts(load_events(spark, SF_SMOKE)))
    assert got == want


def test_streaming_append_exact_distinct_subset(spark, tmp_path):
    """Stateful exact-distinct aggregation (distinct users) in append
    mode: emits only watermark-finalized windows — a non-empty subset
    of the batch result, with values identical where emitted."""
    src = str(tmp_path / "stream_src_append")
    raw = load_table(spark, SF_SMOKE, "events").orderBy("ts")
    write_time_ordered_stream_fixture(raw, src, 4)

    stream = read_events_stream_from_dir(spark, src)
    got = _rows_set(run_to_memory_table(event_metrics_exact_streaming(stream)))
    want = _rows_set(event_metrics(load_events(spark, SF_SMOKE)))
    assert got, "append mode over 4 micro-batches must finalize windows"
    assert got <= want
    assert len(got) < len(want)  # the last watermark-open windows are held back


def test_streaming_exact_distinct_skips_null_users(spark, tmp_path):
    """Users {1, 2, null} in one window, then user 1 again in the next
    micro-batch: the stream counts 2 users, as batch ``event_metrics``
    (COUNT DISTINCT skips NULL) does, from ONE stateful operator."""
    import datetime as dt
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "null_users"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    batches = [
        [(1, 5, 1), (2, 6, 2), (3, 7, None)],
        [(4, 30, 1), (5, 120, 3)],  # 10:02 closes the 10:00 window
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        path = str(src / f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [t0 + dt.timedelta(seconds=r[1]) for r in rows],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": ["view"] * len(rows),
                    "value": [1.0] * len(rows),
                    "props": ["{}"] * len(rows),
                }
            ),
            path,
        )
        os.utime(path, (now + 2 * i, now + 2 * i))

    stream = read_events_stream_from_dir(spark, str(src))
    q = (
        event_metrics_exact_streaming(stream)
        .writeStream.format("memory")
        .queryName("t_null_users")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        got = _rows_set(spark.table("t_null_users"))
    finally:
        spark.catalog.dropTempView("t_null_users")
    batch = event_metrics(normalize_testdata_events(spark.read.parquet(str(src))))
    want = _rows_set(batch.where(F.col("window_end") <= t0 + dt.timedelta(minutes=1)))
    assert got == want
    assert [r[-1] for r in got] == [2]  # user_count
    assert len(q.lastProgress["stateOperators"]) == 1


def test_streaming_session_windows_append_finalized_set(spark, tmp_path):
    """Streaming session windows in append mode emit exactly the batch
    sessions whose window end (last event + gap) the final watermark
    (max event time − delay) has passed — no extra window lag
    (single stateful operator). Pin of the streaming_session_metrics
    oracle semantics."""
    from realtime_analytics_pipeline_spark.operators.session_metrics import (
        session_metrics,
    )

    import time as _time

    src = str(tmp_path / "sess_src")
    raw = load_table(spark, SF_SMOKE, "events")
    # micro-batches must replay in event-time order (the file source
    # orders by modification time; same-mtime files interleave and
    # out-of-order batches lose sessions to the late-record filter):
    # write one time-slice per file with mtime gaps
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [lo + (hi - lo) * i // 3 for i in range(1, 3)]
    slices = [
        raw.where(F.col("ts") < cuts[0]),
        raw.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        raw.where(F.col("ts") >= cuts[1]),
    ]
    for part in slices:
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = read_events_stream_from_dir(spark, src)
    got = _rows_set(run_to_memory_table(session_metrics(stream)))

    ev = load_events(spark, SF_SMOKE)
    max_ms = ev.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]
    batch = session_metrics(ev)
    want = _rows_set(
        batch.where(
            F.unix_millis("end_time") + 30 * 60 * 1000 <= max_ms - 10_000
        )
    )
    assert got, "append mode must finalize sessions"
    assert got == want


def test_late_rows_beyond_watermark_dropped(spark, tmp_path):
    """W5: a row arriving in a later micro-batch with event time older
    than the watermark is silently dropped (no allowed-lateness —
    event_source.py:53-57 parity). An in-delay out-of-order row is
    kept."""
    import time as _time

    from pyspark.sql import Row

    src = str(tmp_path / "late_src")
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z

    def write_file(rows, name):
        df = spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=base_ns + off_ms * 1_000_000,
                    user_id=1,
                    event_type="view",
                    value=1.0,
                    props="{}",
                )
                for i, off_ms in rows
            ],
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # batch 0: events at 0s..120s → watermark 110s after this batch
    write_file([(1, 0), (2, 61_000), (3, 120_000)], "a")
    _time.sleep(1.1)  # file source orders batches by modification time
    # batch 1: in-delay out-of-order row at 115s (kept) + advance to 240s
    write_file([(5, 115_000), (6, 240_000)], "b")
    _time.sleep(1.1)
    # batch 2: LATE row at 30s — the late-record filter uses the
    # watermark with one batch of lag (110s here), so the drop needs
    # the late row to arrive ≥2 batches after its window closed
    write_file([(4, 30_000), (7, 300_000)], "c")

    stream = read_events_stream_from_dir(spark, src)
    counts = (
        stream.groupBy(F.window("event_time", "60 seconds"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("window.start").alias("window_start"), "event_count")
    )
    got = {
        (r.window_start.isoformat(), r.event_count)
        for r in run_to_memory_table(counts).collect()
    }
    assert got == {
        # [0,60): only event 1 — late row 4 dropped
        ("2024-01-01T00:00:00", 1),
        # [60,120): events 2 and 5 — in-delay out-of-order row kept
        ("2024-01-01T00:01:00", 2),
        # [120,180): event 3; windows at/after 240s still open (the
        # final watermark 290s has not passed their end), not emitted
        ("2024-01-01T00:02:00", 1),
    }


def test_parse_wire_json_lenient(spark):
    """Nested wire JSON → canonical columns; corrupt rows dropped
    (kafka_source.py:16-17 lenient-parse parity)."""
    good = {
        "event": {"id": "e1", "type": "page_view"},
        "device": {"user_agent": "Mozilla Mobile", "screen_width": 1280,
                   "screen_height": 720},
        "user": {"id": "u1"},
        "context": {"url": "https://x.com/p", "referrer": None,
                    "ip_address": None, "session_id": "s1"},
        "properties": {"k": "v"},
        "metrics": {"load_time": 123, "interaction_time": 456},
        "timestamp": 1704067200000,
    }
    rows = [
        (json.dumps(good),),
        ("{not valid json",),
        (json.dumps({"unrelated": 1}),),
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = parse_wire_json(raw, "10 seconds")
    collected = out.collect()
    assert len(collected) == 1
    r = collected[0]
    assert r.event_id == "e1"
    assert r.event_type == "page_view"
    assert r.user_id == "u1"
    assert r.session_id == "s1"
    assert r.load_time == 123
    assert r.event_time.isoformat().startswith("2024-01-01T00:00:00")


def test_parse_wire_json_parses_once_per_job(spark):
    """Each standard job over the wire parse evaluates from_json once:
    the jobs' pushed-down filters must not re-parse the row."""
    from realtime_analytics_pipeline_spark.streaming.coordinator import standard_jobs

    events = parse_wire_json(spark.createDataFrame([("{}",)], "value string"), "10 seconds")
    for name, build in standard_jobs().items():
        plan = build(events)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, name


def test_foreach_batch_partitioned_parquet_idempotent(spark, tmp_path):
    """Replaying a batch id must not duplicate rows (dynamic overwrite
    of that batch's partitions = idempotent per epoch, X5 parity)."""
    out_dir = str(tmp_path / "storage_sink")
    em = event_metrics(load_events(spark, SF_SMOKE))
    write = sinks.foreach_batch_partitioned_parquet(out_dir)
    write(em, 0)
    n1 = spark.read.parquet(out_dir).count()
    write(em, 0)  # replay: Spark reuses the batch id on recovery
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 == em.count()


def test_foreach_batch_partitioned_parquet_keeps_session_conf(spark, tmp_path):
    """The sink's dynamic overwrite is a writer option: the session's
    partitionOverwriteMode must read as it did before the batch."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        em = event_metrics(load_events(spark, SF_SMOKE))
        sinks.foreach_batch_partitioned_parquet(str(tmp_path / "storage"))(em, 0)
        assert spark.conf.get(key).lower() == "static"
    finally:
        spark.conf.set(key, before)


def test_foreach_batch_partitioned_parquet_keeps_earlier_batches(spark, tmp_path):
    """Two micro-batches whose windows fall in the same hour both stay
    stored: a later batch must not overwrite the hour partition an
    earlier batch wrote."""
    out_dir = str(tmp_path / "storage_sink")
    write = sinks.foreach_batch_partitioned_parquet(out_dir)
    schema = "window_start timestamp, event_type string, count long"
    for batch_id, (minute, n) in enumerate([(1, 5), (2, 7)]):
        batch = spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, minute), "view", n)], schema
        )
        write(batch, batch_id)
    got = spark.read.parquet(out_dir)
    assert sorted(r["count"] for r in got.collect()) == [5, 7]


def test_foreach_batch_partitioned_parquet_files_sorted(spark, tmp_path):
    """Every file the storage sink writes is ordered by its sort
    columns (the MergeTree ORDER BY analog)."""
    import glob

    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "storage_sink")
    batch = (
        spark.range(5000, numPartitions=2)
        .select(
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") * 7919) % 7200
            ).alias("window_start"),
            F.col("id").alias("count"),
        )
    )
    sinks.foreach_batch_partitioned_parquet(out_dir, sort_cols=("window_start",))(batch, 0)
    files = glob.glob(f"{out_dir}/_part=*/_batch=0/*.parquet")
    assert len(files) >= 2
    for path in files:
        starts = pq.read_table(path, columns=["window_start"])["window_start"].to_pylist()
        assert starts == sorted(starts), path


def test_progress_metrics_trace(spark, tmp_path):
    """The metrics helper flattens a real streaming run's progress:
    input rows accounted, stateful-operator state visible, watermark
    populated after the terminal no-data batch."""

    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics_exact_streaming,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_table
    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )
    from realtime_analytics_pipeline_spark.streaming.metrics import (
        progress_summary,
    )
    from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture

    src = str(tmp_path / "metrics_src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 2
    )
    stream = read_events_stream_from_dir(spark, src)
    agg = event_metrics_exact_streaming(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_progress_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    trace = [progress_summary(p) for p in q.recentProgress]
    assert trace, "progress events must be retained"
    total_rows = sum(t["num_input_rows"] for t in trace)
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert total_rows == expected  # every event accounted exactly once
    assert any(t["state_rows"] > 0 for t in trace)  # stateful agg visible
    assert any(t["state_bytes"] > 0 for t in trace)
    assert trace[-1]["watermark"] is not None  # advanced by the replay
    # the trigger's durationMs split, in ms, 0 where a phase was absent
    for t in trace:
        for k in (
            "add_batch_ms",
            "query_planning_ms",
            "wal_commit_ms",
            "commit_offsets_ms",
            "latest_offset_ms",
        ):
            assert 0 <= t[k] <= t["trigger_ms"], (k, t)
    assert all(t["trigger_ms"] > 0 for t in trace)
    assert any(t["add_batch_ms"] > 0 for t in trace)
    assert any(t["query_planning_ms"] > 0 for t in trace)


def test_streaming_bitmap_distinct_multibatch(spark, tmp_path):
    """Bitmap state must OR-merge across micro-batches: replaying the
    corpus as three time-sliced files yields the same finalized daily
    distinct-user counts as the batch aggregation (a user seen in two
    batches of the same day counts once)."""
    import time as _time

    src = str(tmp_path / "bm_src")
    raw = load_table(spark, SF_SMOKE, "events")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [lo + (hi - lo) * i // 3 for i in range(1, 3)]
    slices = [
        raw.where(F.col("ts") < cuts[0]),
        raw.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        raw.where(F.col("ts") >= cuts[1]),
    ]
    for part in slices:
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = read_events_stream_from_dir(spark, src)
    phase1 = stream.groupBy(
        F.window("event_time", "1 day").alias("win"),
        F.expr("bitmap_bucket_number(CAST(user_id AS LONG))").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(CAST(user_id AS LONG)))"
        ).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    phase2 = phase1.groupBy("win").agg(
        F.sum("n").alias("n_events"),
        F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"),
    )
    out = phase2.select(
        F.unix_millis(F.col("win.start")).alias("day_ms"),
        "n_events",
        "distinct_users",
    )
    got = {
        r["day_ms"]: (r["n_events"], r["distinct_users"])
        for r in run_to_memory_table(out).collect()
    }

    ev = load_events(spark, SF_SMOKE)
    max_ms = ev.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]
    day = (F.unix_millis("event_time") / F.lit(86400000)).cast(
        "long"
    ) * F.lit(86400000)
    want = {
        r["day_ms"]: (r["n"], r["d"])
        for r in ev.groupBy(day.alias("day_ms"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("d"),
        )
        .where(F.col("day_ms") + 86400000 <= max_ms - 10_000)
        .collect()
    }
    assert got == want
    assert len(got) >= 25


def test_streaming_observed_metrics_in_progress(spark, tmp_path):
    """df.observe on a STREAMING frame surfaces per-batch aggregate
    counters through StreamingQuery progress (observedMetrics) — the
    zero-extra-pass DQ channel for running jobs."""
    src = str(tmp_path / "obs_src")
    load_table(spark, SF_SMOKE, "events").coalesce(1).write.parquet(src)
    stream = read_events_stream_from_dir(spark, src)
    observed = stream.observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
    )
    agg = observed.groupBy("event_type").count()
    q = (
        agg.writeStream.format("noop")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "obs_ck"))
        .start()
    )
    q.awaitTermination(120)
    got = None
    for p in q.recentProgress:
        om = p.get("observedMetrics") or {}
        if "dq" in om:
            m = om["dq"]
            got = (m["n_rows"], m["n_null_value"])
    assert got is not None, "observedMetrics never surfaced"
    ev = spark.read.parquet(src)
    assert got[0] == ev.count()
    assert got[1] == ev.where(F.col("value").isNull()).count()


def test_idle_source_watermark_policy_max(spark, tmp_path):
    """W6 (idle-source timeout): Flink marks an idle source so it
    stops holding back the watermark. Spark's native remedy is
    spark.sql.streaming.multipleWatermarkPolicy=max — with the default
    'min' policy a stale/idle source pins the global watermark at its
    last event time and downstream append-mode windows never finalize;
    with 'max' the active source's watermark drives eviction. This
    test pins the remedy: the same two-source union (one idle at old
    timestamps) finalizes ZERO windows under min and the idle side's
    windows under max."""
    import os

    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )

    def run(policy: str, tag: str) -> int:
        old = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy")
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            idle_dir = str(tmp_path / f"idle_{tag}")
            live_dir = str(tmp_path / f"live_{tag}")
            for d in (idle_dir, live_dir):
                os.makedirs(d, exist_ok=True)
            # idle source: ONE old file (its watermark stays at the
            # testdata epoch); live source: the same events shifted
            # +2 years. Flavor-proof: raw ts may be a nanos BIGINT
            # (interval arithmetic on it fails analysis), so normalize
            # through schema.raw_ts first and shift the real timestamp.
            from realtime_analytics_pipeline_spark.schema import raw_ts

            raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            ev = raw.withColumn("ts", raw_ts(raw))
            ev.write.mode("overwrite").parquet(idle_dir + "/f.parquet")
            ev.withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 2 YEARS")
            ).write.mode("overwrite").parquet(live_dir + "/f.parquet")

            idle = read_events_stream_from_dir(spark, idle_dir + "/f.parquet")
            live = read_events_stream_from_dir(spark, live_dir + "/f.parquet")
            union = idle.unionByName(live)
            agg = (
                union.groupBy(
                    F.window("event_time", "60 seconds").alias("w")
                )
                .agg(F.count("*").alias("n"))
            )
            name = f"idle_{policy}_{tag}"
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option(
                    "checkpointLocation", str(tmp_path / f"ck_{policy}_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            rows = spark.table(name).collect()
            return {r.w.start.year for r in rows}, len(rows)
        finally:
            spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", old)

    from realtime_analytics_pipeline_spark.schema import raw_ts as _raw_ts

    _raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    base_years = {
        r[0]
        for r in _raw.select(F.year(_raw_ts(_raw))).distinct().collect()
    }
    shifted_years = {y + 2 for y in base_years}

    years_min, n_min = run("min", "a")
    years_max, n_max = run("max", "b")
    # min: the global watermark is pinned at the idle source's old
    # event time, so the LIVE (+2y) side's windows never finalize —
    # only base-epoch windows appear
    assert years_min == base_years, (years_min, base_years, n_min)
    # max: the live source drives the watermark; both sides finalize
    assert shifted_years & years_max and base_years & years_max, (
        years_max,
        n_max,
    )
    assert n_max > n_min


def test_gated_replays_leave_no_sink_table(spark, monkeypatch):
    """A gated memory-sink replay drops its sink's temp view before it
    returns, and the returned frame still reads every row the sink held
    just before the drop."""
    from pyspark.sql.catalog import Catalog

    from realtime_analytics_pipeline_spark.registry import QUERIES

    held = []
    drop = Catalog.dropTempView

    def counting_drop(self, name):
        held.append(spark.table(name).count())
        return drop(self, name)

    monkeypatch.setattr(Catalog, "dropTempView", counting_drop)
    before = {t.name for t in spark.catalog.listTables()}
    for name in (
        "streaming_event_metrics",
        "streaming_pyds_feed",
        "streaming_feed_windows",
    ):
        n = len(held)
        out = QUERIES[name](spark, SF_SMOKE)
        assert len(held) == n + 1, name
        assert held[-1] > 0, name
        assert out.count() == held[-1], name
    assert {t.name for t in spark.catalog.listTables()} == before


def test_gated_replays_remove_their_input_copies(spark, tmp_path, monkeypatch):
    """The replay inputs staged on local disk (the dedup query's two
    deliveries, the bucketed sessions' partials and phase-1 checkpoint)
    are deleted once the result is in the memory sink."""
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dedup = QUERIES["streaming_exact_dedup"](spark, SF_SMOKE)
    sessions = QUERIES["streaming_session_metrics_bucketed"](spark, SF_SMOKE)
    left = [
        p.name
        for p in tmp_path.iterdir()
        if p.name.startswith(("dedup_stream_src_", "tp_sess_"))
    ]
    assert left == []
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert dedup.count() == events
    assert sessions.count() > 0


def test_single_file_stream_source_leaves_no_temp_dir(
    spark, tmp_path, monkeypatch
):
    """A single-file source is read in place: a replay over
    events.parquet creates no stream_src_* directory, and its frame
    still holds every oracle row."""
    import tempfile

    from realtime_analytics_pipeline_spark.registry import ORACLES, QUERIES
    from realtime_analytics_pipeline_spark.streaming import jobs
    from scripts.verify_driver_gate import duck_views

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    # an empty schema memo: this replay must infer, as a first one does
    monkeypatch.setattr(jobs, "_STREAM_SRC_MEMO", {})
    out = QUERIES["streaming_event_metrics"](spark, SF_SMOKE)
    assert [p.name for p in tmp_path.glob("stream_src_*")] == []
    con, _ = duck_views(SF_SMOKE)
    expected = con.execute(ORACLES["streaming_event_metrics"]).fetchall()
    con.close()
    assert out.count() == len(expected) > 0
