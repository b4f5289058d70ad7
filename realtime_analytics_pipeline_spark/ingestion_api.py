"""HTTP ingestion front door — the reference ingestion service,
broker-free (upgrades SURVEY §2 S8 from out-of-scope to implemented).

Reference contract (services/ingestion/src/api/v1/endpoints/track.py,
schemas/analytics_event.py, infrastructure/kafka/producer.py):

- ``POST /analytics/track`` with a nested AnalyticsEvent JSON body →
  validate → produce to Kafka keyed by ``user.id`` → 202
  ``{"status": "accepted"}``; validation failure → 422 with a
  FastAPI-style ``{"detail": [...]}`` error list.
- ``GET /healthz`` → ``{"status": "ok"}``.
- ``GET /metrics`` → Prometheus text exposition (main.py:33-37) with
  the three hand-registered families from track.py:21-23:
  ``ingestion_requests_total`` (incremented only for model-valid
  requests — FastAPI 422s never reach the handler),
  ``ingestion_request_latency_seconds`` (default prometheus_client
  buckets, observed in the handler's ``finally``),
  ``kafka_producer_errors_total``. ``_created`` series are omitted to
  match the reference's MULTIPROCESS collector mode (main.py:30-31),
  which drops them; the Instrumentator's framework-autogenerated
  ``http_*`` families are library-versioned and out of the mirrored
  contract.
- The producer BUFFERS (batch.size / linger.ms) and the send key is
  ``user.id`` — per-user ordering comes from Kafka's keyed-partition
  contract.

Here the producer buffers accepted payloads and flushes them as one
keyed epoch into a feed table via ``produce_keyed`` (the engine's
Kafka-contract produce: pmod(xxhash64(user_id), n) sticky routing,
produce order per partition, two-phase epoch commit), after which the
standard wire-parse chain (``from_json`` + ``normalize_wire_events``)
feeds every downstream job. Like a Kafka client's flush, the flush
launches no cluster work: it hands ``produce_keyed`` an Arrow table,
which is routed and committed as one file on the calling process.
Validation mirrors the pydantic model field-for-field in stdlib
(required event.type / user.id / device /
context.url+session_id / metrics envelope; optional referrer /
ip_address / properties str|int|float; epoch-ms timestamp defaulted;
``event.id`` defaulted to a UUIDv7 like the reference's uuid6 lib).
"""

from __future__ import annotations

import ipaddress
import json
import re
import secrets
import threading
import time
import urllib.parse
import uuid
from typing import Any

import pyarrow as pa

from realtime_analytics_pipeline_spark.prom import (
    PROM_CONTENT_TYPE,
    ingestion_metrics,
)
from realtime_analytics_pipeline_spark.server import RouteHandler, TcpServer
from realtime_analytics_pipeline_spark.sources.feed import produce_keyed


def uuid7() -> str:
    """UUIDv7 (draft RFC 9562 layout): 48-bit unix-ms + version/variant
    bits + random — time-ordered like the reference's uuid6.uuid7."""
    ms = int(time.time() * 1000) & ((1 << 48) - 1)
    rand_a = secrets.randbits(12)
    rand_b = secrets.randbits(62)
    value = (ms << 80) | (0x7 << 76) | (rand_a << 64) | (0x2 << 62) | rand_b
    return str(uuid.UUID(int=value))


def _is_url(v: Any) -> bool:
    """HttpUrl-ish: scheme http/https AND a non-empty host — pydantic's
    HttpUrl rejects a bare 'http://', a prefix check would not."""
    if not isinstance(v, str):
        return False
    try:
        parts = urllib.parse.urlsplit(v)
    except ValueError:
        return False
    return parts.scheme in ("http", "https") and bool(parts.hostname)


_INT_STR = re.compile(r"^[+-]?[0-9]+$")


def _as_int(v: Any) -> int | None:
    """Pydantic-v2 lax int coercion: int passes; an int-syntax string
    ('1920', ' -7 ') parses; an integral float (1920.0) truncates
    losslessly; bool, '3.5', 1920.5 and everything else fail (None).

    The string branch is gated on an ASCII-digit regex before ``int()``:
    Python's ``int()`` also accepts underscore-grouped ('1_000') and
    non-ASCII unicode digit strings, both of which pydantic v2 lax int
    rejects — without the gate the mirror would 202-accept payloads the
    reference 422s."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() else None
    if isinstance(v, str):
        s = v.strip()
        return int(s, 10) if _INT_STR.match(s) else None
    return None


def validate_event(payload: Any) -> list[dict[str, str]]:
    """Field-for-field stdlib mirror of schemas/analytics_event.py.

    Returns a FastAPI-style error list (empty = valid). The payload is
    normalized in place: event.id and timestamp defaults are filled,
    property values coerced to their JSON representations.
    """
    errs: list[dict[str, str]] = []

    def err(loc: str, msg: str) -> None:
        errs.append({"loc": loc, "msg": msg})

    if not isinstance(payload, dict):
        return [{"loc": "body", "msg": "object required"}]
    event = payload.get("event")
    if not isinstance(event, dict) or not isinstance(event.get("type"), str) or not event.get("type"):
        err("event.type", "field required (string)")
    else:
        event.setdefault("id", uuid7())
    user = payload.get("user")
    if not isinstance(user, dict) or not isinstance(user.get("id"), str) or not user.get("id"):
        err("user.id", "field required (string)")
    device = payload.get("device")
    if not isinstance(device, dict):
        err("device", "field required")
    else:
        if not isinstance(device.get("user_agent"), str):
            err("device.user_agent", "field required (string)")
        for f in ("screen_width", "screen_height"):
            coerced = _as_int(device.get(f))
            if coerced is None:
                err(f"device.{f}", "field required (int)")
            else:
                device[f] = coerced  # pydantic lax: '1920' -> 1920
    ctx = payload.get("context")
    if not isinstance(ctx, dict):
        err("context", "field required")
    else:
        if not _is_url(ctx.get("url")):
            err("context.url", "valid http(s) URL required")
        if ctx.get("referrer") is not None and not _is_url(ctx["referrer"]):
            err("context.referrer", "valid http(s) URL or null")
        if ctx.get("ip_address") is not None:
            try:
                ipaddress.ip_address(ctx["ip_address"])
            except ValueError:
                err("context.ip_address", "valid IPv4/IPv6 or null")
        if not isinstance(ctx.get("session_id"), str) or not ctx.get("session_id"):
            err("context.session_id", "field required (string)")
    metrics = payload.get("metrics")
    if not isinstance(metrics, dict):
        err("metrics", "field required")
    else:
        for f in ("load_time", "interaction_time"):
            v = metrics.get(f)
            if v is not None:
                coerced = _as_int(v)
                if coerced is None:
                    err(f"metrics.{f}", "int or null")
                else:
                    metrics[f] = coerced
    props = payload.setdefault("properties", {})
    if not isinstance(props, dict) or not all(
        isinstance(k, str) and isinstance(v, (str, int, float))
        and not isinstance(v, bool)
        for k, v in props.items()
    ):
        err("properties", "mapping of str -> str|int|float")
    ts = payload.setdefault("timestamp", int(time.time() * 1000))
    coerced_ts = _as_int(ts)
    if coerced_ts is None:
        err("timestamp", "epoch-ms int")
    else:
        payload["timestamp"] = coerced_ts  # digit string -> int, as pydantic
    return errs


class BufferedEventProducer:
    """The reference EventProducer's buffering semantics over the feed
    sink: ``send`` enqueues (the batch.size/linger analog — O(1), no
    Spark work on the request path), ``flush`` produces the whole
    buffer as ONE keyed epoch (produce_keyed: user-sticky partitions,
    produce order preserved via the monotone ``seq``). The flush is a
    driver-side Arrow append — a table of ``user_id, seq, value`` routed
    and committed without a Spark job — so its cost is the rows
    flushed, not a job launch. A flush that fails puts its batch back,
    so the next flush writes it."""

    def __init__(self, feed_path: str, num_partitions: int = 8) -> None:
        self.feed_path = feed_path
        self.num_partitions = num_partitions
        self._buf: list[tuple[str, int, str]] = []
        self._seq = 0
        self._lock = threading.Lock()

    def send(self, payload: dict) -> None:
        user_id = payload["user"]["id"]
        # the key is serialized as UTF-8 at flush; a key that cannot be
        # (a lone surrogate escape) fails this send, not a later flush
        user_id.encode()
        with self._lock:
            self._buf.append((user_id, self._seq, json.dumps(payload)))
            self._seq += 1

    def pending(self) -> int:
        with self._lock:
            return len(self._buf)

    def flush(self) -> int:
        with self._lock:
            batch, self._buf = self._buf, []
        if not batch:
            return 0
        users, seqs, values = zip(*batch)
        try:
            table = pa.table(
                {
                    "user_id": pa.array(users, pa.string()),
                    "seq": pa.array(seqs, pa.int64()),
                    "value": pa.array(values, pa.string()),
                }
            )
            produce_keyed(
                table,
                self.feed_path,
                key_col="user_id",
                seq_col="seq",
                num_partitions=self.num_partitions,
            )
        except BaseException:
            # every event here was answered 202: back at the head, in
            # seq order, ahead of the sends that arrived meanwhile
            with self._lock:
                self._buf[:0] = batch
            raise
        return len(batch)


class IngestionHttpServer(TcpServer):
    """POST /analytics/track + GET /healthz + GET /metrics (Prometheus
    text exposition) over a buffered keyed producer, as a
    ``RouteHandler`` table. ``.flush(spark)`` commits the buffered
    epoch to the feed table (``spark`` is accepted for callers' sake;
    the flush needs no session)."""

    def __init__(
        self,
        feed_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        num_partitions: int = 8,
    ) -> None:
        self.producer = BufferedEventProducer(feed_path, num_partitions)
        # the three families of track.py:21-23
        self.registry, self.requests, self.latency, self.errors = (
            ingestion_metrics()
        )
        routes = {
            ("POST", "/analytics/track"): self._track,  # track.py:29
            ("GET", "/healthz"): lambda q, b: (200, {"status": "ok"}),
            ("GET", "/metrics"): lambda q, b: (  # main.py:33-37
                200, self.registry.render(), PROM_CONTENT_TYPE
            ),
        }
        super().__init__(host, port, RouteHandler, routes)

    def _track(self, query: str, body: bytes) -> tuple[int, Any]:
        try:
            payload = json.loads(body)
        except (ValueError, RecursionError):
            return 422, {"detail": [{"loc": "body", "msg": "invalid JSON"}]}
        errs = validate_event(payload)
        if errs:
            # FastAPI model validation rejects BEFORE the handler body
            # runs — 422s touch no counter (track.py:52 is only reached
            # with a valid AnalyticsEvent)
            return 422, {"detail": errs}
        start = time.time()
        self.requests.inc()  # track.py:52
        try:
            self.producer.send(payload)
        except Exception:  # noqa: BLE001 — the producer-error reply
            self.errors.inc()  # track.py:55-56
            return 500, {"detail": "produce failed"}
        finally:
            self.latency.observe(time.time() - start)  # :79
        return 202, {"status": "accepted"}  # track.py:31-34,79

    def flush(self, spark) -> int:
        return self.producer.flush()
