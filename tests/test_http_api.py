"""Golden wire-format tests for the HTTP layer vs the reference's
documented responses (metrics.py:8-31, health.py:6-19,
repository.py:80-140, cache_service.py:31-39), served from a RESP
cache that ``foreach_batch_resp_sink`` filled."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from realtime_analytics_pipeline_spark.http_api import MetricsHttpServer
from realtime_analytics_pipeline_spark.operators import serving
from realtime_analytics_pipeline_spark.operators.event_metrics import event_metrics
from realtime_analytics_pipeline_spark.operators.performance_metrics import (
    performance_metrics,
)
from realtime_analytics_pipeline_spark.resp import (
    MiniRedisServer,
    RespCacheRepository,
    RespClient,
)
from realtime_analytics_pipeline_spark.sources.batch import load_events
from realtime_analytics_pipeline_spark.streaming.sinks import (
    foreach_batch_resp_sink,
)

from tests.conftest import SF_SMOKE

CATS = ["view", "click", "purchase", "signup", "error"]


@pytest.fixture(scope="module")
def pivots(spark):
    ev = load_events(spark, SF_SMOKE)
    return (
        serving.pivot_event_metrics(
            event_metrics(ev), ["view", "click", "purchase", "signup"]
        ),
        serving.pivot_performance_metrics(performance_metrics(ev), CATS),
    )


@pytest.fixture(scope="module")
def cache():
    redis = MiniRedisServer()
    cli = RespClient("127.0.0.1", redis.port)
    yield RespCacheRepository(cli)
    cli.close()
    redis.close()


@pytest.fixture(scope="module")
def server(pivots, cache):
    event_pivot, perf_pivot = pivots
    foreach_batch_resp_sink(cache, "event")(event_pivot, 0)
    foreach_batch_resp_sink(cache, "performance")(perf_pivot, 0)
    srv = MetricsHttpServer(cache)
    yield srv
    srv.close()


def _get(server, path):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}{path}", timeout=60
    ) as r:
        ctype = r.headers["Content-Type"]
        body = r.read().decode()
        return r.status, ctype, (json.loads(body) if "json" in ctype else body)


def test_event_latest_wire_shape(server):
    status, ctype, payload = _get(server, "/metrics/event/latest")
    assert status == 200 and ctype == "application/json"
    # repository.py:80-88: flat object, epoch-ms window_start int,
    # dotted per-type fields, ints
    assert isinstance(payload["window_start"], int)
    metric_keys = [k for k in payload if k != "window_start"]
    assert metric_keys, "latest window carries at least one metric field"
    for k in metric_keys:
        name, _, metric = k.partition(".")
        assert metric in ("count", "users")
        assert name in ("view", "click", "purchase", "signup")
        assert isinstance(payload[k], int)


def test_event_windows_newest_first_and_limit(server):
    status, _, payload = _get(server, "/metrics/event/windows?limit=5")
    assert status == 200
    wins = payload["windows"]  # metrics.py:13-18 wraps the list
    assert len(wins) == 5
    starts = [w["window_start"] for w in wins]
    assert starts == sorted(starts, reverse=True)  # zrevrange order
    # default limit is 20 (metrics.py:14)
    _, _, dflt = _get(server, "/metrics/event/windows")
    assert len(dflt["windows"]) == 20


def test_performance_windows_wire_shape(server):
    status, _, payload = _get(server, "/metrics/performance/windows?limit=3")
    assert status == 200
    wins = payload["windows"]
    assert len(wins) == 3
    for w in wins:
        assert isinstance(w["window_start"], int)
        for k, v in w.items():
            if k == "window_start":
                continue
            name, _, metric = k.partition(".")
            assert metric in ("avg_load_time", "p95_load_time")
            assert name in CATS
            assert isinstance(v, float)


def test_overview_combines_latest_snapshots(server):
    status, _, ov = _get(server, "/metrics/overview")
    assert status == 200
    # cache_service.py:31-39: exactly these two keys
    assert set(ov) == {"event_latest", "performance_latest"}
    _, _, latest = _get(server, "/metrics/event/latest")
    assert ov["event_latest"] == latest
    _, _, perf = _get(server, "/metrics/performance/windows?limit=1")
    assert ov["performance_latest"] == perf["windows"][0]


def test_absent_not_null_field_semantics(server):
    """A type with no message in a window is an ABSENT hash field in
    the reference (hset only writes present fields) — never null."""
    _, _, payload = _get(server, "/metrics/event/windows?limit=50")
    for w in payload["windows"]:
        assert all(v is not None for v in w.values())


def test_health_endpoints(server):
    status, _, h = _get(server, "/healthz")
    assert status == 200 and h["status"] == "ok"
    status, ctype, r = _get(server, "/readyz")
    assert status == 200 and r == {"status": "ready"}


def test_unknown_route_404(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/metrics/nope")
    assert ei.value.code == 404


def test_keepalive_survives_404(server):
    """The cache app speaks HTTP/1.1 keep-alive: a 404 carries
    Content-Length, so a second GET on the same connection is served
    without a reconnect."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=5)
    try:
        conn.request("GET", "/metrics/nope")
        r = conn.getresponse()
        r.read()
        assert r.status == 404
        sock = conn.sock
        conn.request("GET", "/healthz")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read()) == {"status": "ok"}
        assert sock is not None and conn.sock is sock
    finally:
        conn.close()


def test_readyz_503_when_store_unready():
    """health.py:15-19: plain-text 503 'not ready' before readiness."""
    redis = MiniRedisServer()
    cli = RespClient("127.0.0.1", redis.port)
    cli.close()  # the cache is unreachable: PING cannot be sent
    redis.close()
    srv = MetricsHttpServer(RespCacheRepository(cli))
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/readyz")
        assert ei.value.code == 503
        assert ei.value.read().decode() == "not ready"
    finally:
        srv.close()


def test_cache_down_replies_500_then_recovers(pivots):
    """A data route whose cache call fails answers plain-text 500, as
    Starlette does for an unhandled error, instead of dropping the
    connection; once the cache is back on the same port, the next
    request dials it again and is served."""
    event_pivot, _ = pivots
    redis = MiniRedisServer()
    port = redis.port
    cli = RespClient("127.0.0.1", port)
    srv = MetricsHttpServer(RespCacheRepository(cli))
    try:
        cli.close()
        redis.close()
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/metrics/event/windows")
        assert ei.value.code == 500
        assert ei.value.read().decode() == "Internal Server Error"

        redis = MiniRedisServer(port=port)
        status, _, r = _get(srv, "/readyz")
        assert status == 200 and r == {"status": "ready"}
        foreach_batch_resp_sink(RespCacheRepository(cli), "event")(
            event_pivot, 0
        )
        status, _, payload = _get(srv, "/metrics/event/windows")
        assert status == 200 and len(payload["windows"]) == 20
    finally:
        srv.close()
        cli.close()
        redis.close()


def test_bad_limit_replies_422_not_dropped_connection(server):
    """FastAPI 422s a non-int limit (`limit: int = 20`, metrics.py:15);
    the stdlib mirror must reply with a status, not a stack trace."""
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/metrics/event/windows?limit=abc")
    assert ei.value.code == 422
    detail = json.loads(ei.value.read().decode())["detail"]
    assert detail[0]["loc"] == ["query", "limit"]
    # routes that never read limit ignore a junk one, as FastAPI does
    status, _, h = _get(server, "/healthz?limit=abc")
    assert status == 200 and h["status"] == "ok"


def test_negative_limit_zrevrange_wrap(server):
    """The reference has no ge= bound: limit<1 reaches
    zrevrange(0, limit-1), whose end index wraps from the tail —
    0 keeps everything retained, -k drops the k oldest."""
    _, _, everything = _get(server, "/metrics/event/windows?limit=0")
    n = len(everything["windows"])
    assert n > 5
    _, _, minus = _get(server, "/metrics/event/windows?limit=-3")
    assert len(minus["windows"]) == n - 3
    assert minus["windows"] == everything["windows"][: n - 3]


def test_cache_prometheus_metrics_endpoint(pivots):
    """GET /metrics (bare path, beside the /metrics/... JSON routes —
    cache main.py:87-89): the six worker families from
    infrastructure/kafka/metrics.py, fed by a metered RESP sink batch."""
    from realtime_analytics_pipeline_spark.prom import (
        PROM_CONTENT_TYPE,
        cache_metrics,
    )

    m = cache_metrics()
    event_pivot, _ = pivots
    redis = MiniRedisServer()
    cli = RespClient("127.0.0.1", redis.port)
    repo = RespCacheRepository(cli)
    foreach_batch_resp_sink(repo, "event", metrics=m)(event_pivot, 0)
    n_windows = event_pivot.count()

    srv = MetricsHttpServer(repo, cache_metrics=m)
    try:
        status, ctype, body = _get(srv, "/metrics")
        assert status == 200 and ctype == PROM_CONTENT_TYPE
        lines = body.splitlines()
        assert "# TYPE cache_kafka_records_total counter" in lines
        assert f"cache_kafka_records_total {float(n_windows)!r}" in lines
        assert "cache_kafka_commit_batches_total 1.0" in lines
        assert "cache_queue_current_size 0.0" in lines
        assert "cache_kafka_pending_messages 0.0" in lines
        assert "cache_redis_batch_errors_total 0.0" in lines
        assert "cache_redis_batch_latency_seconds_count 1.0" in lines
        assert (
            'cache_redis_batch_latency_seconds_bucket{le="+Inf"} 1.0'
            in lines
        )
        # the JSON routes still answer beside the exposition route
        status, ctype, payload = _get(srv, "/metrics/event/latest")
        assert status == 200 and "json" in ctype
    finally:
        srv.close()
        cli.close()
        redis.close()


def test_concurrent_reads_during_sink_batch(pivots):
    """Handler threads share the repository's one RESP client with the
    sink: GETs racing a ``foreach_batch_resp_sink`` batch on that same
    repository each get a whole, well-formed, newest-first reply."""
    import threading

    event_pivot, _ = pivots
    redis = MiniRedisServer()
    cli = RespClient("127.0.0.1", redis.port)
    repo = RespCacheRepository(cli)
    srv = MetricsHttpServer(repo)
    stop = threading.Event()
    replies: list[tuple[int, dict]] = []
    errors: list[BaseException] = []

    def reader():
        try:
            while not stop.is_set():
                status, _, payload = _get(srv, "/metrics/event/windows?limit=0")
                replies.append((status, payload))
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    try:
        for t in threads:
            t.start()
        sink = foreach_batch_resp_sink(repo, "event")
        for batch_id in range(3):
            sink(event_pivot, batch_id)
        stop.set()
        for t in threads:
            t.join()
        _, _, final = _get(srv, "/metrics/event/windows?limit=0")
    finally:
        stop.set()
        srv.close()
        cli.close()
        redis.close()
    assert not errors
    assert len(replies) >= len(threads)
    for status, payload in replies:
        assert status == 200 and set(payload) == {"windows"}
        starts = [w["window_start"] for w in payload["windows"]]
        assert all(isinstance(s, int) for s in starts)
        assert starts == sorted(set(starts), reverse=True)
        assert all(len(w) > 1 for w in payload["windows"])
    # once the batches are applied, the retained set is whole
    assert len(final["windows"]) == min(event_pivot.count(), 120)
