"""RocksDB state store provider (SURVEY §4): the large-state streaming
backend — same results as the default in-memory provider, state
observable via query progress metrics."""

from __future__ import annotations

import pytest

from realtime_analytics_pipeline_spark.config import (
    ROCKSDB_STATE_STORE_PROVIDER,
    EngineConfig,
)
from realtime_analytics_pipeline_spark.operators.event_metrics import (
    event_metrics_exact_streaming,
)
from realtime_analytics_pipeline_spark.operators.session_metrics import (
    session_metrics,
)
from realtime_analytics_pipeline_spark.streaming.jobs import (
    configure_state_store,
    read_events_stream_from_dir,
)

from tests.conftest import SF_SMOKE

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture
def rocksdb_session(spark):
    prev = spark.conf.get(_PROVIDER_KEY, None)
    configure_state_store(
        spark, EngineConfig(state_store_provider=ROCKSDB_STATE_STORE_PROVIDER)
    )
    yield spark
    if prev is None:
        spark.conf.unset(_PROVIDER_KEY)
    else:
        spark.conf.set(_PROVIDER_KEY, prev)


def _run_append(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name), q.lastProgress


def test_rocksdb_provider_selected_and_equivalent(rocksdb_session):
    """Provider selection is observable (rocksdb* custom metrics in
    query progress) and the stateful exact-distinct aggregation produces
    byte-identical results to the default provider."""
    spark = rocksdb_session
    src = SF_SMOKE + "/events.parquet"

    stream = read_events_stream_from_dir(spark, src)
    rocks_df, prog = _run_append(
        spark, event_metrics_exact_streaming(stream), "t_rocks_em"
    )
    ops = prog["stateOperators"]
    assert ops, "the stateful aggregation must report its state operator"
    custom = {k for op in ops for k in op.get("customMetrics", {})}
    assert any(k.startswith("rocksdb") for k in custom), custom
    # state-size metrics are populated (rows touched + bytes held; the
    # terminal batch may have evicted all rows, so numRowsTotal can be 0)
    assert sum(op["numRowsTotal"] + op["numRowsUpdated"] for op in ops) > 0
    assert sum(op["memoryUsedBytes"] for op in ops) > 0

    spark.conf.unset(_PROVIDER_KEY)
    stream2 = read_events_stream_from_dir(spark, src)
    default_df, prog2 = _run_append(
        spark, event_metrics_exact_streaming(stream2), "t_default_em"
    )
    custom2 = {
        k
        for op in prog2["stateOperators"]
        for k in op.get("customMetrics", {})
    }
    assert not any(k.startswith("rocksdb") for k in custom2)
    assert {tuple(r) for r in rocks_df.collect()} == {
        tuple(r) for r in default_df.collect()
    }


def test_rocksdb_session_windows(rocksdb_session):
    """Session-window state (the reference's largest state surface,
    session_tracker.py:29-36) runs on RocksDB with merging session
    state and emits the same finalized set as the default provider."""
    spark = rocksdb_session
    src = SF_SMOKE + "/events.parquet"
    stream = read_events_stream_from_dir(spark, src)
    rocks_df, prog = _run_append(
        spark, session_metrics(stream), "t_rocks_sess"
    )
    custom = {
        k
        for op in prog["stateOperators"]
        for k in op.get("customMetrics", {})
    }
    assert any(k.startswith("rocksdb") for k in custom)

    spark.conf.unset(_PROVIDER_KEY)
    stream2 = read_events_stream_from_dir(spark, src)
    default_df, _ = _run_append(
        spark, session_metrics(stream2), "t_default_sess"
    )
    assert {tuple(r) for r in rocks_df.collect()} == {
        tuple(r) for r in default_df.collect()
    }


def test_rocksdb_two_phase_merge(rocksdb_session, tmp_path):
    """Round-10: phase 2 of two-phase sessionization
    (applyInPandasWithState — a different state-operator class than
    the native session-window merge above) on RocksDB: identical
    emitted set to the default provider, rocksdb metrics observable.
    Fixture: key A's partials straddle midnight and stay OPEN (bucket
    ceiling on day 3); key B finalizes once key C's late partial
    clears B's day-2 ceiling."""
    import datetime as dt

    from realtime_analytics_pipeline_spark.streaming.stateful import (
        merge_partials_stateful,
    )

    from tests.conftest import write_time_ordered_stream_fixture

    D1 = dt.datetime(2024, 1, 1)
    D2 = dt.datetime(2024, 1, 2)
    partials = [
        ("A", "A", D1.replace(hour=23, minute=40),
         D1.replace(hour=23, minute=50), 3),
        ("A", "A", D2.replace(hour=0, minute=5),
         D2.replace(hour=0, minute=15), 2),
        ("B", "B", D1.replace(hour=8, minute=0),
         D1.replace(hour=8, minute=10), 2),
        ("C", "C", D2.replace(hour=1, minute=20),
         D2.replace(hour=1, minute=30), 1),
    ]
    src = str(tmp_path / "partials")
    pdf = rocksdb_session.createDataFrame(
        partials,
        "session_id string, user_id string, start_time timestamp,"
        " end_time timestamp, page_count long",
    )
    write_time_ordered_stream_fixture(pdf, src, n_files=2, ts_col="end_time")

    def run(name):
        stream = (
            rocksdb_session.readStream.schema(pdf.schema)
            .parquet(src)
            .withWatermark("end_time", "10 seconds")
        )
        return _run_append(
            rocksdb_session, merge_partials_stateful(stream), name
        )

    rocks_df, prog = run("t_rocks_tp_merge")
    custom = {
        k
        for op in prog["stateOperators"]
        for k in op.get("customMetrics", {})
    }
    assert any(k.startswith("rocksdb") for k in custom), custom

    rocksdb_session.conf.unset(_PROVIDER_KEY)
    default_df, _ = run("t_default_tp_merge")
    rocks = {tuple(r) for r in rocks_df.collect()}
    assert rocks == {tuple(r) for r in default_df.collect()}
    # B finalized exactly once (ceiling cleared by C's partial);
    # A merged across midnight stays open; C's own ceiling is day 3
    assert sorted(r[0] for r in rocks) == ["B"]
