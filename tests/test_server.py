"""The shared server scaffold (``server.TcpServer``): ``close()`` ends
service on connections that are still open, and no thread a server
started outlives it, for the ingestion app, the cache app and the
mini Redis."""

from __future__ import annotations

import http.client
import json
import socket
import threading
import time

import pytest

from realtime_analytics_pipeline_spark.http_api import MetricsHttpServer
from realtime_analytics_pipeline_spark.ingestion_api import IngestionHttpServer
from realtime_analytics_pipeline_spark.resp import (
    MiniRedisServer,
    RespCacheRepository,
    RespClient,
)
from realtime_analytics_pipeline_spark.server import RouteHandler, TcpServer

from tests.test_ingestion_api import _wire_event


def _post(conn: http.client.HTTPConnection, payload: dict) -> int:
    conn.request(
        "POST",
        "/analytics/track",
        body=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    r = conn.getresponse()
    r.read()
    return r.status


def test_ingestion_close_ends_keepalive_connection(tmp_path):
    """A keep-alive client must not get 202 from a closed server for an
    event that nothing will flush."""
    srv = IngestionHttpServer(str(tmp_path / "feed"))
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=5)
    try:
        assert _post(conn, _wire_event(0, "u1")) == 202
        srv.close()
        with pytest.raises((OSError, http.client.HTTPException)):
            _post(conn, _wire_event(1, "u1"))
        assert srv.producer.pending() == 1
    finally:
        conn.close()
        srv.close()


def test_mini_redis_close_ends_client_connection():
    """A connected client fails once the server closes, and after a new
    server binds the same port it reads the new, empty store."""
    srv = MiniRedisServer()
    port = srv.port
    cli = RespClient("127.0.0.1", port, timeout=5)
    srv2 = None
    try:
        cli.execute("HSET", "h", "f", "v")
        srv.close()
        with pytest.raises(OSError):
            cli.execute("HGETALL", "h")
        srv2 = MiniRedisServer(port=port)
        assert cli.execute("HGETALL", "h") == []
    finally:
        cli.close()
        srv.close()
        if srv2 is not None:
            srv2.close()


def _within_1s(cond) -> bool:
    deadline = time.monotonic() + 1.0
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


@pytest.mark.parametrize("kind", ["ingestion", "cache", "redis"])
def test_close_leaves_no_thread(tmp_path, kind):
    """With a client connected but idle, every thread the server
    started has ended 1 s after ``close()``."""
    redis = MiniRedisServer()
    cli = RespClient("127.0.0.1", redis.port)
    assert cli.execute("PING") == "PONG"  # its connection thread is up
    before = set(threading.enumerate())
    if kind == "ingestion":
        srv = IngestionHttpServer(str(tmp_path / "feed"))
    elif kind == "cache":
        srv = MetricsHttpServer(RespCacheRepository(cli))
    else:
        srv = MiniRedisServer()
    idle = socket.create_connection(("127.0.0.1", srv.port), timeout=5)

    def started():
        return set(threading.enumerate()) - before

    try:
        # the listener's thread and the idle connection's
        assert _within_1s(lambda: len(started()) >= 2)
        srv.close()
        assert _within_1s(lambda: not started()), sorted(
            t.name for t in started()
        )
    finally:
        idle.close()
        srv.close()
        cli.close()
        redis.close()


def test_idle_http_connection_times_out(monkeypatch):
    """An idle keep-alive connection is closed after ``RouteHandler.timeout``
    and its thread ends; a connection reused within the timeout is
    served on the same socket."""
    # finite, and longer than a client that connects a few seconds
    # before its first request waits
    assert RouteHandler.timeout is not None and RouteHandler.timeout > 5.3
    monkeypatch.setattr(RouteHandler, "timeout", 0.5)
    before = set(threading.enumerate())
    srv = TcpServer("127.0.0.1", 0, RouteHandler,
                    {("GET", "/ping"): lambda query, body: (200, "pong")})
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=5)
    idle = socket.create_connection(("127.0.0.1", srv.port), timeout=1.5)

    def ping():
        conn.request("GET", "/ping")
        r = conn.getresponse()
        return r.status, r.read()

    try:
        assert ping() == (200, b"pong")
        sock = conn.sock
        time.sleep(0.25)
        assert ping() == (200, b"pong")
        assert conn.sock is sock
        assert idle.recv(1) == b""  # the server closed it
        # only the listener's thread is left
        assert _within_1s(lambda: len(set(threading.enumerate()) - before) == 1)
    finally:
        idle.close()
        conn.close()
        srv.close()
