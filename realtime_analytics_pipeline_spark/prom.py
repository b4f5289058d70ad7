"""Prometheus text-exposition rendering, stdlib-only.

The reference exposes ``GET /metrics`` from BOTH services via
``prometheus_client.generate_latest`` (ingestion: main.py:33-37;
cache: main.py:87-89) with hand-registered families
(ingestion track.py:21-23; cache infrastructure/kafka/metrics.py:4-25).
``prometheus_client`` is not in this container, so this module renders
the same text format (version 0.0.4) for the same family names and
types. ``_created`` series are intentionally absent — the reference's
ingestion service runs the MULTIPROCESS collector (main.py:30-31),
which omits them; the cache mirror follows the same convention.

Counters/gauges/histograms are thread-safe (one registry lock — these
count HTTP requests and micro-batches, not hot-loop events).
"""

from __future__ import annotations

import threading

PROM_CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"

# prometheus_client's default Histogram buckets (upper bounds)
DEFAULT_BUCKETS = (
    0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5, 0.75,
    1.0, 2.5, 5.0, 7.5, 10.0,
)


def _fmt(v: float) -> str:
    """prometheus_client renders sample values via float repr:
    counters print as '3.0', sums at full precision."""
    return repr(float(v))


class PromRegistry:
    """Ordered registry of metric families; ``render()`` is the
    ``generate_latest`` twin for the registered families."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._families: list[object] = []

    def counter(self, name: str, help_: str) -> "Counter":
        c = Counter(name, help_, self._lock)
        self._families.append(c)
        return c

    def gauge(self, name: str, help_: str) -> "Gauge":
        g = Gauge(name, help_, self._lock)
        self._families.append(g)
        return g

    def histogram(
        self, name: str, help_: str, buckets: tuple = DEFAULT_BUCKETS
    ) -> "Histogram":
        h = Histogram(name, help_, self._lock, buckets)
        self._families.append(h)
        return h

    def render(self) -> str:
        with self._lock:
            lines: list[str] = []
            for fam in self._families:
                lines.extend(fam._render())  # type: ignore[attr-defined]
            return "\n".join(lines) + "\n"


class Counter:
    _type = "counter"

    def __init__(self, name: str, help_: str, lock: threading.Lock) -> None:
        self.name, self.help, self._lock = name, help_, lock
        self._value = 0.0

    def inc(self, amount: float = 1.0) -> None:
        with self._lock:
            self._value += amount

    @property
    def value(self) -> float:
        return self._value

    def _render(self) -> list[str]:
        return [
            f"# HELP {self.name} {self.help}",
            f"# TYPE {self.name} {self._type}",
            f"{self.name} {_fmt(self._value)}",
        ]


class Gauge(Counter):
    """A counter that may also be set and go down."""

    _type = "gauge"

    def set(self, v: float) -> None:
        with self._lock:
            self._value = v

    def dec(self, amount: float = 1.0) -> None:
        with self._lock:
            self._value -= amount


class Histogram:
    def __init__(
        self,
        name: str,
        help_: str,
        lock: threading.Lock,
        buckets: tuple = DEFAULT_BUCKETS,
    ) -> None:
        self.name, self.help, self._lock = name, help_, lock
        self._buckets = tuple(buckets)
        self._bucket_counts = [0] * len(self._buckets)
        self._sum = 0.0
        self._count = 0

    def observe(self, v: float) -> None:
        with self._lock:
            self._sum += v
            self._count += 1
            for i, ub in enumerate(self._buckets):
                if v <= ub:
                    self._bucket_counts[i] += 1

    def time(self):
        """Context manager mirroring Histogram.time()."""
        import time as _time

        class _Timer:
            def __init__(_self) -> None:
                _self.t0 = 0.0

            def __enter__(_self):
                _self.t0 = _time.time()
                return _self

            def __exit__(_self, *exc):
                self.observe(_time.time() - _self.t0)
                return False

        return _Timer()

    def _render(self) -> list[str]:
        lines = [
            f"# HELP {self.name} {self.help}",
            f"# TYPE {self.name} histogram",
        ]
        # bucket counts are stored cumulatively (observe() adds to
        # every covering bucket), which is what the wire format wants
        for ub, n in zip(self._buckets, self._bucket_counts):
            lines.append(f'{self.name}_bucket{{le="{_fmt(ub)}"}} {_fmt(n)}')
        lines.append(f'{self.name}_bucket{{le="+Inf"}} {_fmt(self._count)}')
        lines.append(f"{self.name}_count {_fmt(self._count)}")
        lines.append(f"{self.name}_sum {_fmt(self._sum)}")
        return lines


def ingestion_metrics() -> tuple[PromRegistry, Counter, Histogram, Counter]:
    """The ingestion service's three families (track.py:21-23)."""
    reg = PromRegistry()
    requests = reg.counter("ingestion_requests_total", "Total API Requests")
    latency = reg.histogram(
        "ingestion_request_latency_seconds", "Request latency"
    )
    errors = reg.counter(
        "kafka_producer_errors_total", "Kafka producer errors"
    )
    return reg, requests, latency, errors


def cache_metrics() -> dict[str, object]:
    """The cache service's six families (infrastructure/kafka/
    metrics.py:4-25), name-for-name and type-for-type."""
    reg = PromRegistry()
    return {
        "registry": reg,
        "records": reg.counter(
            "cache_kafka_records_total",
            "Total Kafka records consumed (pre-filter).",
        ),
        "commit_batches": reg.counter(
            "cache_kafka_commit_batches_total",
            "Number of Kafka offset commit batches.",
        ),
        "queue_size": reg.gauge(
            "cache_queue_current_size",
            "Current size of the in-memory operation queue.",
        ),
        "pending": reg.gauge(
            "cache_kafka_pending_messages",
            "Messages parsed but not yet committed.",
        ),
        "batch_errors": reg.counter(
            "cache_redis_batch_errors_total",
            "Count of Redis batch write failures.",
        ),
        "batch_latency": reg.histogram(
            "cache_redis_batch_latency_seconds",
            "Latency of Redis batch apply operations.",
        ),
    }
