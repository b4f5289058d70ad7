"""Real RESP wire protocol against the in-process mini Redis: codec
bytes, repository command parity (reference repository.py:25-140),
retention trim, type conversion, and the foreachBatch sink end-to-end
into the reference's read shapes."""

from __future__ import annotations

import pytest

from realtime_analytics_pipeline_spark.resp import (
    MiniRedisServer,
    RespCacheRepository,
    RespClient,
    WINDOW_EVENT_INDEX,
    encode_command,
)


def _event(window_start, fields):
    return {"type": "event", "window_start": window_start, "fields": fields}


@pytest.fixture()
def redis_pair():
    srv = MiniRedisServer()
    cli = RespClient("127.0.0.1", srv.port)
    yield srv, cli
    cli.close()
    srv.close()


def test_resp_encoding_is_wire_exact():
    """The bytes on the socket are the actual RESP2 protocol — what
    redis-cli/redis-py would send."""
    assert (
        encode_command("HSET", "k", "f", "1")
        == b"*4\r\n$4\r\nHSET\r\n$1\r\nk\r\n$1\r\nf\r\n$1\r\n1\r\n"
    )
    assert encode_command("PING") == b"*1\r\n$4\r\nPING\r\n"
    assert (
        encode_command("ZADD", "idx", 60000, 60000)
        == b"*4\r\n$4\r\nZADD\r\n$3\r\nidx\r\n$5\r\n60000\r\n$5\r\n60000\r\n"
    )


def test_server_speaks_resp(redis_pair):
    srv, cli = redis_pair
    assert cli.execute("PING") == "PONG"
    assert cli.execute("HSET", "h", "a", "1", "b", "2") == 2
    assert cli.execute("HSET", "h", "a", "9") == 0  # update, not add
    got = cli.execute("HGETALL", "h")
    assert {got[i]: got[i + 1] for i in range(0, len(got), 2)} == {
        b"a": b"9",
        b"b": b"2",
    }
    assert cli.execute("ZADD", "z", 3, "c", 1, "a", 2, "b") == 3
    assert cli.execute("ZREVRANGE", "z", 0, 1) == [b"c", b"b"]
    assert cli.execute("ZCARD", "z") == 3
    assert cli.execute("ZREMRANGEBYRANK", "z", 0, 0) == 1  # drops lowest
    assert cli.execute("ZREVRANGE", "z", 0, -1) == [b"c", b"b"]


def test_pipeline_is_one_roundtrip(redis_pair):
    srv, cli = redis_pair
    replies = cli.pipeline(
        [
            ("HSET", "k1", "f", "1"),
            ("EXPIRE", "k1", 100),
            ("ZADD", "idx", 5, "m5"),
            ("ZCARD", "idx"),
        ]
    )
    assert replies == [1, 1, 1, 1]


def test_repository_store_and_reads(redis_pair):
    srv, cli = redis_pair
    repo = RespCacheRepository(cli, window_retention_count=3)
    repo.pipeline_apply([_event(60000, {"view.count": 5, "view.users": 3})])
    repo.pipeline_apply([_event(120000, {"view.count": 7, "click.count": 2})])
    latest = repo.get_latest_event_window()
    # types converted through the reference int->float->str cascade
    assert latest == {
        "window_start": 120000,
        "view.count": 7,
        "click.count": 2,
    }
    wins = repo.get_last_event_windows(10)
    assert [w["window_start"] for w in wins] == [120000, 60000]


def test_repository_trim_keeps_newest(redis_pair):
    """repository.py:109-115: over the cap, ZREMRANGEBYRANK drops the
    OLDEST (lowest-rank) excess."""
    srv, cli = redis_pair
    repo = RespCacheRepository(cli, window_retention_count=3)
    for i in range(1, 8):
        repo.pipeline_apply([_event(i * 60000, {"view.count": i})])
    assert cli.execute("ZCARD", WINDOW_EVENT_INDEX) == 3
    wins = repo.get_last_event_windows(10)
    assert [w["window_start"] for w in wins] == [420000, 360000, 300000]


def test_repository_pipeline_apply_mixed(redis_pair):
    srv, cli = redis_pair
    repo = RespCacheRepository(cli, window_retention_count=120)
    repo.pipeline_apply(
        [
            {"type": "event", "window_start": 60000,
             "fields": {"view.count": 1}},
            {"type": "perf", "window_start": 60000,
             "fields": {"view.avg_load_time": 120.5}},
            {"type": "event", "window_start": 120000,
             "fields": {"view.count": 2}},
        ]
    )
    ev = repo.get_last_event_windows(10)
    pf = repo.get_last_performance_windows(10)
    assert [w["window_start"] for w in ev] == [120000, 60000]
    assert pf == [{"window_start": 60000, "view.avg_load_time": 120.5}]


def test_error_reply_keeps_pipeline_in_step(redis_pair):
    """An error reply mid-pipeline is raised only after every reply is
    read, so the next command gets its own reply, not a stale one."""
    srv, cli = redis_pair
    with pytest.raises(RuntimeError, match="unknown command"):
        cli.pipeline([("FOO",), ("ZCARD", "x")])
    assert cli.execute("PING") == "PONG"


class _CountingClient(RespClient):
    def __init__(self, *args):
        super().__init__(*args)
        self.round_trips = 0

    def pipeline(self, commands):
        self.round_trips += 1
        return super().pipeline(commands)


def test_repository_round_trips(redis_pair):
    """A mixed write batch, trim included, is one round trip; a
    window-list read is two (ZREVRANGE, then every HGETALL)."""
    srv, _ = redis_pair
    cli = _CountingClient("127.0.0.1", srv.port)
    repo = RespCacheRepository(cli, window_retention_count=5)
    ops = [_event(i * 60000, {"view.count": i}) for i in range(1, 25)]
    ops += [
        {"type": "perf", "window_start": i * 60000,
         "fields": {"view.avg_load_time": 1.5}}
        for i in range(1, 8)
    ]
    repo.pipeline_apply(ops)
    assert cli.round_trips == 1
    assert cli.execute("ZCARD", WINDOW_EVENT_INDEX) == 5
    assert len(repo.get_last_performance_windows(0)) == 5

    cli.round_trips = 0
    wins = repo.get_last_event_windows(20)
    assert cli.round_trips == 2
    assert [w["window_start"] for w in wins] == [
        i * 60000 for i in range(24, 19, -1)
    ]
    cli.close()


def test_back_to_back_pipelines_do_not_stall(redis_pair):
    """Each mini-server reply is its own send; a pipeline's later
    replies must not wait on the client's delayed ACK (Nagle), which
    costs tens of ms per call."""
    import time

    srv, cli = redis_pair
    repo = RespCacheRepository(cli)
    t0 = time.perf_counter()
    for i in range(50):
        repo.pipeline_apply(
            [_event(i * 60000, {"view.count": i, "view.users": 1})]
        )
    assert time.perf_counter() - t0 < 1.0


def test_foreach_batch_resp_sink_end_to_end(spark, redis_pair):
    """Pivot batch -> RESP pipeline -> repository reads match the HTTP
    cache wire shape for the same data (same dotted fields, newest
    first, absent-not-null), and the retention trim keeps exactly the
    newest windows."""
    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics,
    )
    from realtime_analytics_pipeline_spark.operators import serving
    from realtime_analytics_pipeline_spark.sources.batch import load_events
    from realtime_analytics_pipeline_spark.streaming.sinks import (
        event_wire,
        foreach_batch_resp_sink,
    )
    from tests.conftest import SF_SMOKE

    srv, cli = redis_pair
    repo = RespCacheRepository(cli)
    ev = load_events(spark, SF_SMOKE)
    pivot = serving.pivot_event_metrics(
        event_metrics(ev), ["view", "click", "purchase", "signup"]
    )
    foreach_batch_resp_sink(repo, "event")(pivot, 0)

    want = event_wire(
        pivot.orderBy(pivot.window_start.desc()).limit(20).collect()
    )
    got = repo.get_last_event_windows(20)
    assert got == want
    # full store respects the 120-window retention default
    assert cli.execute("ZCARD", WINDOW_EVENT_INDEX) <= 120

    # a smaller retention keeps exactly the newest windows (T5)
    cli.execute("FLUSHALL")
    repo7 = RespCacheRepository(cli, window_retention_count=7)
    foreach_batch_resp_sink(repo7, "event")(pivot, 1)
    newest7 = event_wire(
        pivot.orderBy(pivot.window_start.desc()).limit(7).collect()
    )
    assert repo7.get_last_event_windows(0) == newest7


def test_expiry_evicts_lazily(redis_pair):
    srv, cli = redis_pair
    repo = RespCacheRepository(cli, window_hash_ttl=-1)  # already past
    repo.pipeline_apply([_event(60000, {"view.count": 5})])
    # index survives (only the hash got the TTL); hash is gone
    assert cli.execute("HGETALL", "metrics:event:60000") == []
    assert repo.get_latest_event_window() is None


def test_prom_registry_render_order_and_gauge_math():
    """prom.py generics: families render in registration order; gauge
    inc/dec; Histogram.time() context manager observes once."""
    from realtime_analytics_pipeline_spark.prom import PromRegistry

    reg = PromRegistry()
    c = reg.counter("c_total", "c help")
    g = reg.gauge("g_now", "g help")
    h = reg.histogram("h_seconds", "h help")
    c.inc()
    c.inc(2)
    g.set(5)
    g.inc()
    g.dec(3)
    with h.time():
        pass
    body = reg.render()
    lines = body.splitlines()
    assert lines[0] == "# HELP c_total c help"
    assert "c_total 3.0" in lines
    assert "g_now 3.0" in lines
    assert "h_seconds_count 1.0" in lines
    # registration order preserved: counter before gauge before histogram
    assert lines.index("# TYPE c_total counter") < lines.index(
        "# TYPE g_now gauge"
    ) < lines.index("# TYPE h_seconds histogram")
    assert body.endswith("\n")


def test_streaming_resp_sink_kill_restart_exactly_once(spark, tmp_path):
    """Chaos drill for the CACHE sink (round-9, mirrors the JDBC one in
    test_jdbc_connector): crash after the RESP pipeline applied a
    non-empty batch but BEFORE the epoch commit; restart from the SAME
    checkpoint re-delivers the batch. HSET overwrites the same fields
    and ZADD re-adds the same member, so the store converges to the
    uninterrupted run's state exactly — the reference's Redis cache has
    the same re-delivery window (Kafka offsets commit after the write,
    cache consumer) and relies on the same idempotence."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from realtime_analytics_pipeline_spark.operators import serving
    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics_exact_streaming,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_table
    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )
    from realtime_analytics_pipeline_spark.streaming.sinks import (
        foreach_batch_resp_sink,
    )
    from tests.conftest import SF_SMOKE, write_time_ordered_stream_fixture

    src = str(tmp_path / "src")
    write_time_ordered_stream_fixture(
        load_table(spark, SF_SMOKE, "events"), src, 4
    )
    types = ["view", "click", "purchase", "signup"]

    def run(repo, checkpoint, crash_marker=None):
        base = foreach_batch_resp_sink(repo, "event")

        def sink(batch_df, batch_id):
            pivot = serving.pivot_event_metrics(batch_df, types)
            n = pivot.count()
            base(pivot, batch_id)  # RESP pipeline applied...
            if crash_marker is not None and n > 0 and not crash_marker.exists():
                crash_marker.write_text("x")
                raise RuntimeError("injected crash post-write pre-commit")

        stream = read_events_stream_from_dir(spark, src)
        em = event_metrics_exact_streaming(stream).select(
            "window_start", "window_end", "event_type",
            "event_count", "user_count",
        )
        q = (
            em.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        except StreamingQueryException:
            assert crash_marker is not None and crash_marker.exists()

    srv1, srv2 = MiniRedisServer(), MiniRedisServer()
    try:
        repo1 = RespCacheRepository(RespClient("127.0.0.1", srv1.port))
        repo2 = RespCacheRepository(RespClient("127.0.0.1", srv2.port))
        marker = tmp_path / "crashed_once"
        run(repo1, "ck_chaos", crash_marker=marker)  # dies mid-stream
        assert marker.exists()
        assert repo1.get_last_event_windows(5)  # the write landed
        run(repo1, "ck_chaos", crash_marker=marker)  # restart, same ckpt
        run(repo2, "ck_ref")  # uninterrupted reference run

        got = repo1.get_last_event_windows(120)
        want = repo2.get_last_event_windows(120)
        assert got == want
        # index cardinality equal too — a duplicated window member
        # would change ZCARD even if reads looked converged
        c1 = RespClient("127.0.0.1", srv1.port)
        c2 = RespClient("127.0.0.1", srv2.port)
        assert c1.execute("ZCARD", WINDOW_EVENT_INDEX) == c2.execute(
            "ZCARD", WINDOW_EVENT_INDEX
        )
        c1.close()
        c2.close()
    finally:
        srv1.close()
        srv2.close()
