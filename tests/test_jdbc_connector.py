"""Real JDBC connector path against embedded Derby (the in-container
stand-in for the reference's ClickHouse service — same Spark code
path, different URL)."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators.event_metrics import event_metrics
from realtime_analytics_pipeline_spark.sources.batch import load_events
from realtime_analytics_pipeline_spark.sources.jdbc import (
    derby_url,
    foreach_batch_jdbc_upsert,
    read_jdbc,
    write_jdbc,
)

from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture


def _metrics_ms(spark):
    em = event_metrics(load_events(spark, SF_SMOKE))
    return em.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "event_count",
        "user_count",
    )


def _as_set(df):
    return {
        (r.window_start_ms, r.event_type, r.event_count, r.user_count)
        for r in df.collect()
    }


def test_jdbc_roundtrip_and_parallel_partitioned_read(spark, tmp_path):
    url = derby_url(str(tmp_path / "derbydb"))
    em = _metrics_ms(spark)
    write_jdbc(em, url, "event_metrics", num_partitions=4)

    back = read_jdbc(spark, url, "event_metrics")
    assert _as_set(back) == _as_set(em)

    lo, hi = em.agg(
        F.min("window_start_ms"), F.max("window_start_ms")
    ).first()
    par = read_jdbc(
        spark,
        url,
        "event_metrics",
        partition_column="window_start_ms",
        lower_bound=lo,
        upper_bound=hi + 1,
        num_partitions=4,
    )
    # genuinely partitioned scan: 4 range slices, same data
    assert par.rdd.getNumPartitions() == 4
    assert _as_set(par) == _as_set(em)


def test_streaming_jdbc_upsert_idempotent_replay(spark, tmp_path):
    """Replaying the same micro-batches through the JDBC upsert sink
    must converge to the batch result — no duplicate window rows."""
    from realtime_analytics_pipeline_spark.sources.batch import load_table
    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )

    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics_exact_streaming,
    )

    src = str(tmp_path / "src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 3
    )
    url = derby_url(str(tmp_path / "derbydb2"))

    def run(checkpoint: str) -> None:
        stream = read_events_stream_from_dir(spark, src)
        em = event_metrics_exact_streaming(stream).select(
            F.unix_millis("window_start").alias("window_start_ms"),
            "event_type",
            "event_count",
            "user_count",
        )
        q = (
            em.writeStream.outputMode("append")
            .foreachBatch(
                foreach_batch_jdbc_upsert(
                    url, "event_metrics_live", "window_start_ms"
                )
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run("ck1")
    first = _as_set(read_jdbc(spark, url, "event_metrics_live"))
    assert first  # watermark finalized at least the early windows
    # full REPLAY from a fresh checkpoint: every batch re-delivered —
    # the delete+append upsert must converge, not duplicate
    run("ck2")
    replayed_df = read_jdbc(spark, url, "event_metrics_live")
    replayed = _as_set(replayed_df)
    assert replayed == first
    # COUNT equality too: the set comparison alone masked a silently
    # failing (unquoted-column) DELETE for two rounds — duplicates
    # must fail loudly
    assert replayed_df.count() == len(first)
    # one row per window key, and every row agrees with the batch truth
    keys = [(k[0], k[1]) for k in replayed]
    assert len(keys) == len(set(keys))
    batch = _as_set(_metrics_ms(spark))
    assert replayed <= batch


def test_streaming_jdbc_upsert_kill_restart_exactly_once(spark, tmp_path):
    """Chaos drill (VERDICT r08 item 8): CRASH the stream after the
    sink write but BEFORE Spark commits the epoch — the exact
    at-least-once re-delivery window every foreachBatch sink lives
    with (offset WAL written pre-batch, commit log written post-batch,
    so a crash between them re-delivers the batch on restart). Restart
    from the SAME checkpoint and assert the final table equals an
    uninterrupted run bit-for-bit: the delete+append upsert turns
    re-delivery into exactly-once EFFECT (X5), across a real
    kill/restart boundary rather than the full-replay of the test
    above."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics_exact_streaming,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_table
    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )

    src = str(tmp_path / "src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 4
    )
    url = derby_url(str(tmp_path / "derbydb3"))

    inner = foreach_batch_jdbc_upsert(url, "em_chaos", "window_start_ms")
    crash_marker = tmp_path / "crashed_once"

    def crashing_sink(batch_df, batch_id):
        # append-mode + watermark ⇒ early batches can be EMPTY (no
        # window finalized yet); crash on the first batch that really
        # lands rows, so the re-delivery window contains data
        n = batch_df.count()
        inner(batch_df, batch_id)  # sink write SUCCEEDS...
        if n > 0 and not crash_marker.exists():
            crash_marker.write_text("x")
            # ...then the "process dies" before the epoch commits
            raise RuntimeError("injected crash post-write pre-commit")

    def run(sink_fn, checkpoint, table_sel="em_chaos", expect_fail=False):
        stream = read_events_stream_from_dir(spark, src)
        em = event_metrics_exact_streaming(stream).select(
            F.unix_millis("window_start").alias("window_start_ms"),
            "event_type",
            "event_count",
            "user_count",
        )
        q = (
            em.writeStream.outputMode("append")
            .foreachBatch(sink_fn)
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        if expect_fail:
            with pytest.raises(StreamingQueryException):
                q.awaitTermination(300)
        else:
            q.awaitTermination(300)

    # run 1: dies after batch 0's rows are already in the table
    run(crashing_sink, "ck_chaos", expect_fail=True)
    assert crash_marker.exists()
    partial = read_jdbc(spark, url, "em_chaos")
    assert partial.count() > 0  # the write really landed pre-crash

    # run 2: SAME checkpoint — batch 0 is re-delivered (uncommitted
    # epoch), then the remaining batches stream through
    run(crashing_sink, "ck_chaos")

    # uninterrupted reference run: fresh checkpoint, fresh table
    run(
        foreach_batch_jdbc_upsert(url, "em_ref", "window_start_ms"),
        "ck_ref",
        table_sel="em_ref",
    )

    chaos_df = read_jdbc(spark, url, "em_chaos")
    ref_df = read_jdbc(spark, url, "em_ref")
    chaos, ref = _as_set(chaos_df), _as_set(ref_df)
    assert chaos == ref
    # COUNT equality too — a duplicated window row would survive the
    # set comparison (same lesson as the round-6 quoting bug)
    assert chaos_df.count() == ref_df.count() == len(ref)
