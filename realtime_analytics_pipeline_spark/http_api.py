"""HTTP layer over the RESP cache — reference wire-format parity.

The reference exposes its cache over FastAPI (services/cache/src/api/
endpoints/metrics.py:8-31 behind an APIRouter prefix="/metrics", and
health.py:6-19). Each route reads through CacheService and
CacheRepository: ZREVRANGE over the recency index, then HGETALL of
each window hash (repository.py:80-140). Here each route is one call
on ``resp.RespCacheRepository``, the same store the live pipeline
writes through ``streaming.sinks.foreach_batch_resp_sink``.

Payload shapes are the repository's: a window is a flat JSON object
``{"window_start": <epoch_ms int>, "<key>.count": int, ...}`` whose
dotted field names come from the Kafka message parser
(message_parser.py:23-42) and whose metric fields are ABSENT (not
null) for types that produced no message in that window; list
endpoints wrap newest-first windows as ``{"windows": [...]}``; the
overview combines the latest event and performance snapshots
(cache_service.py:31-39); /readyz answers plain-text 503 until the
cache answers PING; a data route whose cache call fails answers
plain-text 500 ``Internal Server Error``, as Starlette does for an
unhandled error, and the client dials the cache again on the next
request. A ``limit`` below 1 goes to ZREVRANGE(0, limit-1)
unchanged, as in the reference (no ``ge=`` bound), so Redis's
negative end index gives the wrap: 0 reads every retained window, -k
all but the k oldest.

FastAPI is not in this container, so the server is the stdlib
``ThreadingHTTPServer`` — the routes, query parsing, status codes and
JSON bodies are the wire contract, and they are golden-tested in
tests/test_http_api.py. Handler threads share the repository's one
``RespClient``, whose lock makes each pipeline a whole round trip.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from realtime_analytics_pipeline_spark import prom
from realtime_analytics_pipeline_spark.resp import RespCacheRepository

_log = logging.getLogger(__name__)
_LIMIT_ROUTES = ("/metrics/event/windows", "/metrics/performance/windows")
_BAD_LIMIT = {
    "detail": [
        {
            "loc": ["query", "limit"],
            "msg": "value is not a valid integer",
            "type": "int_parsing",
        }
    ]
}


def _readyz(repo: RespCacheRepository) -> tuple[int, Any]:
    try:
        repo.r.execute("PING")
    except (OSError, RuntimeError):
        return 503, "not ready"  # health.py:15-19
    return 200, {"status": "ready"}


def _overview(repo: RespCacheRepository) -> dict[str, Any]:
    perf = repo.get_last_performance_windows(1)
    return {  # cache_service.py:31-39
        "event_latest": repo.get_latest_event_window() or {},
        "performance_latest": perf[0] if perf else {},
    }


def _make_handler(repo: RespCacheRepository, prom_registry):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args: Any) -> None:  # quiet test output
            pass

        def _reply(
            self, status: int, text: str, ctype: str = "application/json"
        ) -> None:
            body = text.encode()
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            if url.path == "/metrics":
                # cache main.py:87-89 — Prometheus exposition lives at
                # the bare /metrics, beside the /metrics/... JSON routes
                self._reply(200, prom_registry.render(), prom.PROM_CONTENT_TYPE)
                return
            # FastAPI 422s a non-int limit (`limit: int = 20`,
            # metrics.py:15) — mirror that instead of letting int()
            # blow up the handler (dropped connection, no status).
            try:
                limit = int(parse_qs(url.query).get("limit", ["20"])[0])
            except ValueError:
                if url.path in _LIMIT_ROUTES:
                    self._reply(422, json.dumps(_BAD_LIMIT))
                    return
                limit = 20  # routes that never read it
            table = {
                "/healthz": lambda: (200, {"status": "ok"}),
                "/readyz": lambda: _readyz(repo),
                "/metrics/event/latest": lambda: (
                    200,
                    repo.get_latest_event_window() or {},  # cache_service.py:22-23
                ),
                "/metrics/event/windows": lambda: (
                    200,
                    {"windows": repo.get_last_event_windows(limit)},
                ),
                "/metrics/performance/windows": lambda: (
                    200,
                    {"windows": repo.get_last_performance_windows(limit)},
                ),
                "/metrics/overview": lambda: (200, _overview(repo)),
            }
            fn = table.get(url.path)
            if fn is None:
                self.send_response(404)
                self.end_headers()
                return
            try:
                status, payload = fn()
            except Exception:  # noqa: BLE001 — Starlette's 500 reply
                _log.exception("GET %s failed", url.path)
                self._reply(500, "Internal Server Error", "text/plain")
                return
            # FastAPI's dict-return vs Response(content=...) split,
            # health.py:6-19
            if isinstance(payload, str):
                self._reply(status, payload, "text/plain")
            else:
                self._reply(status, json.dumps(payload))

    return Handler


class MetricsHttpServer:
    """The cache service's HTTP surface over a RESP cache repository.

    ``port=0`` binds an ephemeral port (tests); ``.port`` reports the
    bound one. The server thread is a daemon — ``close()`` for an
    orderly stop.
    """

    def __init__(
        self,
        repo: RespCacheRepository,
        host: str = "127.0.0.1",
        port: int = 0,
        cache_metrics: dict | None = None,
    ):
        """``cache_metrics``: a ``prom.cache_metrics()`` dict (share it
        with the ``foreach_batch_resp_sink`` feeding this cache); when
        given, ``GET /metrics`` serves the cache worker's Prometheus
        families exactly as reference cache main.py:87-89 does."""
        self.metrics = (
            prom.cache_metrics() if cache_metrics is None else cache_metrics
        )
        self._httpd = ThreadingHTTPServer(
            (host, port), _make_handler(repo, self.metrics["registry"])
        )
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

