"""Stream-stream interval joins."""

from __future__ import annotations


from realtime_analytics_pipeline_spark.sources.batch import load_events, load_table
from realtime_analytics_pipeline_spark.streaming.jobs import (
    read_events_stream_from_dir,
    run_to_memory_table,
)
from realtime_analytics_pipeline_spark.streaming.joins import (
    stream_attribution_join,
)

from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The streaming interval join over a drained finite source must
    produce a subset of the batch interval join (watermark may hold
    tail rows), with every emitted row exactly matching batch."""
    src = str(tmp_path / "ssj_src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 3
    )

    stream = read_events_stream_from_dir(spark, src)
    got = {
        tuple(r)
        for r in run_to_memory_table(stream_attribution_join(stream)).collect()
    }

    batch = stream_attribution_join(load_events(spark, SF_SMOKE))
    want = {tuple(r) for r in batch.collect()}
    assert got, "stream-stream join must emit rows"
    # every emitted row is exactly a batch row; the tail may be held by
    # the watermark (result is tiny at this SF — 3 rows — so no useful
    # fraction bound exists; file-batch ordering decides the held set)
    assert got <= want


def test_full_outer_join_null_pads_both_sides(spark, tmp_path):
    """FULL OUTER interval join: unmatched purchases null-pad at
    watermark > p_time; unmatched views null-pad only at watermark >
    v_time + lookback (their state lives a full match window longer);
    both stream tails stay held."""
    import time as _time

    from pyspark.sql import Row

    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
        run_to_memory_table,
    )
    from realtime_analytics_pipeline_spark.streaming.joins import (
        stream_attribution_join_full_outer,
    )

    src = str(tmp_path / "full_src")
    base_ns = 1_704_067_200_000_000_000
    sec = 1_000_000_000

    def write_file(rows):
        spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=base_ns + off * sec,
                    user_id=u,
                    event_type=t,
                    value=1.0,
                    props="{}",
                )
                for (i, off, u, t) in rows
            ]
        ).coalesce(1).write.mode("append").parquet(src)

    # file 1: matched pair (user 1), orphan purchase (user 2),
    # orphan view (user 5)
    write_file(
        [
            (1, 0, 1, "view"),
            (2, 600, 1, "purchase"),
            (3, 300, 2, "purchase"),
            (4, 100, 5, "view"),
        ]
    )
    _time.sleep(1.1)
    # file 2: max at t=5000 -> watermark 4990 > 100 + 3600 (orphan
    # view finalizes) and > 300 (orphan purchase finalizes); its own
    # tail view (4900 + 3600 > 4990) and tail purchase (5000 > 4990)
    # must stay held
    write_file([(6, 4900, 9, "view"), (7, 5000, 4, "purchase")])

    stream = read_events_stream_from_dir(spark, src)
    out = stream_attribution_join_full_outer(stream)
    rows = run_to_memory_table(out).collect()
    by_p = {r.purchase_id: r for r in rows if r.purchase_id is not None}
    by_v = {r.view_id: r for r in rows if r.view_id is not None}
    assert by_p["2"].view_id == "1"  # matched in-batch
    assert by_p["3"].view_id is None  # purchase null-padded
    assert "7" not in by_p  # tail purchase held
    assert by_v["4"].purchase_id is None  # view null-padded after +1h
    assert "6" not in by_v  # tail view held (state alive for 1h more)
