"""Custom stateful operator (applyInPandasWithState): running totals
with carried state across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.sources.batch import load_table
from realtime_analytics_pipeline_spark.streaming.jobs import (
    read_events_stream_from_dir,
    run_to_memory_table,
)
from realtime_analytics_pipeline_spark.streaming.stateful import (
    running_totals_per_type,
)

from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    raw = load_table(spark, SF_SMOKE, "events")
    raw.repartitionByRange(3, "ts").write.parquet(src)

    stream = read_events_stream_from_dir(spark, src, watermark="0 seconds")
    out = running_totals_per_type(stream)
    rows = run_to_memory_table(out, output_mode="update").collect()
    # multiple micro-batches → multiple emissions per type, monotone
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(
            (r.cumulative_events, r.approx_cumulative_users)
        )
    truth = {
        r.event_type: r.cnt
        for r in raw.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    users_truth = {
        r.event_type: r.u
        for r in raw.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert set(by_type) == set(truth)
    for t, seq in by_type.items():
        events_seq = [e for e, _ in seq]
        assert events_seq == sorted(events_seq), "must be monotone"
        assert events_seq[-1] == truth[t], "final total must be exact"
        # bloom estimate within 15% of the true distinct count
        est = seq[-1][1]
        assert abs(est - users_truth[t]) / users_truth[t] <= 0.15


def test_stateful_sessionization_multibatch_matches_finalized_set(spark, tmp_path):
    """3-file replay: open sessions carry across micro-batches, gap
    splits emit mid-replay, event-time timeouts evict the rest — the
    union must equal the batch sessionization restricted to the
    watermark-finalized set (end + gap <= final watermark), each
    session exactly once."""

    from realtime_analytics_pipeline_spark.operators.session_metrics import (
        session_metrics_by_lag,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_events
    from realtime_analytics_pipeline_spark.streaming.stateful import (
        sessionize_stateful,
    )

    src = str(tmp_path / "src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 3
    )

    stream = read_events_stream_from_dir(spark, src)
    out = sessionize_stateful(stream)
    got = run_to_memory_table(out)

    batch = session_metrics_by_lag(load_events(spark, SF_SMOKE)).select(
        "session_id",
        "user_id",
        F.unix_micros("start_time").alias("start_us"),
        F.unix_micros("end_time").alias("end_us"),
        "page_count",
    )
    gap_us = 1800 * 1_000_000
    mx = (
        load_events(spark, SF_SMOKE)
        .agg(F.max(F.unix_micros("event_time")))
        .first()[0]
    )
    finalized = batch.where((F.col("end_us") + gap_us) <= (mx - 10_000_000))

    assert got.count() == finalized.count()
    assert got.exceptAll(finalized).count() == 0
    assert finalized.exceptAll(got).count() == 0
    # exactly-once: no duplicate emissions for any session key
    dupes = (
        got.groupBy("session_id", "user_id", "start_us")
        .count()
        .where("count > 1")
        .count()
    )
    assert dupes == 0


def test_cusum_stateful_multibatch_equals_batch_fold(spark, tmp_path):
    """The streaming fold must carry (cum, min_cum, calibration) state
    across micro-batches: replay the same minutes in 3 batches and in
    1 batch — identical finalized rows; stragglers behind the
    watermark are dropped, not double-counted."""
    import pandas as pd

    from realtime_analytics_pipeline_spark.streaming.stateful import (
        _cusum_update_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None
            self.hasTimedOut = False
            self.wm = 0

        def getCurrentWatermarkMs(self):
            return self.wm

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def setTimeoutTimestamp(self, ts):
            self.to = ts

    fn = _cusum_update_fn(60_000)
    minutes = [(i * 60_000, 100 + (i % 5) * 37) for i in range(12)]

    def run(batches, wms):
        st = FakeState()
        rows = []
        for batch, wm in zip(batches, wms):
            st.wm = wm
            out = list(
                fn((0,), iter([pd.DataFrame(
                    batch, columns=["minute_ms", "cents"]
                )]), st)
            )
            for pdf in out:
                rows.extend(map(tuple, pdf.itertuples(index=False)))
        return rows

    one = run([minutes], [12 * 60_000 + 60_000])
    three = run(
        [minutes[:4], minutes[4:9], minutes[9:]],
        [3 * 60_000, 8 * 60_000, 13 * 60_000],
    )
    assert one == three
    assert len(one) == 12
    # a straggler for an already-finalized minute is dropped
    st_rows = run([minutes, [(0, 999)]], [13 * 60_000, 14 * 60_000])
    assert st_rows == one
