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

The routes, query parsing, status codes and JSON bodies are the wire
contract, golden-tested in tests/test_http_api.py. Handler threads
share the repository's one ``RespClient``, whose lock makes each
pipeline a whole round trip.
"""

from __future__ import annotations

from typing import Any
from urllib.parse import parse_qs

from realtime_analytics_pipeline_spark import prom
from realtime_analytics_pipeline_spark.resp import RespCacheRepository
from realtime_analytics_pipeline_spark.server import RouteHandler, TcpServer

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


def _windows(get_last):
    """A list route: FastAPI 422s a non-int ``limit`` (``limit: int =
    20``, metrics.py:15); no other route reads it."""

    def route(query: str, body: bytes) -> tuple[int, Any]:
        try:
            limit = int(parse_qs(query).get("limit", ["20"])[0])
        except ValueError:
            return 422, _BAD_LIMIT
        return 200, {"windows": get_last(limit)}

    return route


class MetricsHttpServer(TcpServer):
    """The cache service's HTTP surface over a RESP cache repository."""

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
        registry = self.metrics["registry"]
        routes = {
            # cache main.py:87-89 — Prometheus exposition lives at the
            # bare /metrics, beside the /metrics/... JSON routes
            ("GET", "/metrics"): lambda q, b: (
                200, registry.render(), prom.PROM_CONTENT_TYPE
            ),
            ("GET", "/healthz"): lambda q, b: (200, {"status": "ok"}),
            ("GET", "/readyz"): lambda q, b: _readyz(repo),
            ("GET", "/metrics/event/latest"): lambda q, b: (
                200, repo.get_latest_event_window() or {}  # cache_service.py:22-23
            ),
            ("GET", "/metrics/event/windows"): _windows(
                repo.get_last_event_windows
            ),
            ("GET", "/metrics/performance/windows"): _windows(
                repo.get_last_performance_windows
            ),
            ("GET", "/metrics/overview"): lambda q, b: (200, _overview(repo)),
        }
        super().__init__(host, port, RouteHandler, routes)
