"""The ingestion front door end-to-end: HTTP POST -> validation ->
buffered keyed produce -> committed feed epoch -> wire-parse chain ->
metrics, plus wire-format parity with the reference endpoints
(track.py:29-79, health.py:6-8, analytics_event.py)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.ingestion_api import (
    IngestionHttpServer,
    validate_event,
)
from realtime_analytics_pipeline_spark.schema import (
    ANALYTICS_EVENT_SCHEMA,
    normalize_wire_events,
)
from realtime_analytics_pipeline_spark.sources.feed import read_committed


def _wire_event(i: int, user: str, etype: str = "page_view") -> dict:
    return {
        "event": {"type": etype},
        "user": {"id": user},
        "device": {
            "user_agent": "Mozilla/5.0 (X11; Linux x86_64)",
            "screen_width": 1920,
            "screen_height": 1080,
        },
        "context": {
            "url": f"https://example.com/page_{i % 7}",
            "referrer": None,
            "session_id": f"s-{user}",
        },
        "metrics": {"load_time": 100 + (i % 5) * 100, "interaction_time": None},
        "timestamp": 1704067200000 + i * 1000,  # 2024-01-01 + i s
    }


def _post(port: int, path: str, payload: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_ingestion_end_to_end(spark, tmp_path):
    feed = str(tmp_path / "events_topic")
    srv = IngestionHttpServer(feed)
    try:
        users = [f"u{j}" for j in range(9)]
        n = 120
        for i in range(n):
            status, body = _post(
                srv.port, "/analytics/track", _wire_event(i, users[i % 9])
            )
            assert status == 202 and body == {"status": "accepted"}
        assert srv.producer.pending() == n
        assert srv.flush(spark) == n
        assert srv.producer.pending() == 0

        raw = read_committed(spark, feed)
        parsed = normalize_wire_events(
            raw.select(
                F.from_json(F.col("value"), ANALYTICS_EVENT_SCHEMA).alias("e")
            ).select("e.*")
        )
        # nothing lost, duplicated, or mangled through the whole chain
        assert parsed.count() == n
        got = {
            (r.user_id, r.event_count)
            for r in parsed.groupBy("user_id")
            .agg(F.count("*").alias("event_count"))
            .collect()
        }
        expect = {(u, len([i for i in range(n) if users[i % 9] == u])) for u in users}
        assert got == expect
        # event ids were defaulted to UUIDv7 per event, all distinct
        assert parsed.select("event_id").distinct().count() == n
        # per-user produce order survives: within each user, wire
        # timestamps ascend with the producer seq
        rows = raw.select("user_id", "seq", "value").collect()
        per_user: dict[str, list[tuple[int, int]]] = {}
        for r in rows:
            per_user.setdefault(r.user_id, []).append(
                (r.seq, json.loads(r.value)["timestamp"])
            )
        for u, pairs in per_user.items():
            pairs.sort()
            ts = [t for _, t in pairs]
            assert ts == sorted(ts), u
    finally:
        srv.close()


def test_flush_launches_no_spark_job(spark, tmp_path):
    """A flush is a client-side log append, as a Kafka producer's is:
    the status tracker sees no new job across ``srv.flush(spark)``."""
    srv = IngestionHttpServer(str(tmp_path / "t"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # tracker is async
        return set(tracker.getJobIdsForGroup())

    try:
        for i in range(40):
            _post(srv.port, "/analytics/track", _wire_event(i, f"u{i % 7}"))
        before = job_ids()
        spark.range(3).count()  # control: a job that does run is seen
        control = job_ids()
        assert control - before
        assert srv.flush(spark) == 40
        assert not job_ids() - control
        assert read_committed(spark, str(tmp_path / "t")).count() == 40
    finally:
        srv.close()


def test_unencodable_user_id_fails_its_send_only(spark, tmp_path):
    """A user id with a lone surrogate escape cannot be stored as UTF-8:
    that request fails as a producer error, and the buffer of good
    events still flushes."""
    feed = str(tmp_path / "t")
    srv = IngestionHttpServer(feed)
    try:
        _post(srv.port, "/analytics/track", _wire_event(0, "u1"))
        body = json.dumps(_wire_event(1, "USER")).replace("USER", "\\ud800")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/analytics/track",
            data=body.encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=30)
        assert ei.value.code == 500
        assert srv.flush(spark) == 1
        assert read_committed(spark, feed).count() == 1
    finally:
        srv.close()


def test_ingestion_validation_422(spark, tmp_path):
    srv = IngestionHttpServer(str(tmp_path / "t"))
    try:
        bad = _wire_event(0, "u1")
        del bad["user"]
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(srv.port, "/analytics/track", bad)
        assert ei.value.code == 422
        detail = json.loads(ei.value.read())["detail"]
        assert any(d["loc"] == "user.id" for d in detail)
        # nothing buffered from a rejected request
        assert srv.producer.pending() == 0
        # healthz parity (health.py:6-8)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/healthz", timeout=30
        ) as r:
            assert r.status == 200 and json.loads(r.read()) == {"status": "ok"}
    finally:
        srv.close()


def test_validate_event_field_rules():
    ok = _wire_event(1, "u")
    assert validate_event(ok) == []
    assert "id" in ok["event"]  # uuid7 defaulted
    cases = [
        (lambda p: p["context"].update(url="notaurl"), "context.url"),
        (lambda p: p["context"].update(ip_address="999.1.1.1"), "context.ip_address"),
        (lambda p: p["device"].update(screen_width="wide"), "device.screen_width"),
        (lambda p: p["metrics"].update(load_time="fast"), "metrics.load_time"),
        (lambda p: p.update(properties={"k": [1]}), "properties"),
        (lambda p: p.update(timestamp="now"), "timestamp"),
        (lambda p: p["event"].update(type=""), "event.type"),
    ]
    for mutate, loc in cases:
        p = _wire_event(2, "u")
        mutate(p)
        errs = validate_event(p)
        assert any(e["loc"] == loc for e in errs), (loc, errs)
    # optional fields pass when present and valid
    p = _wire_event(3, "u")
    p["context"]["referrer"] = "https://google.com/search?q=x"
    p["context"]["ip_address"] = "10.0.0.1"
    p["properties"] = {"campaign_id": "camp_1", "n": 3, "f": 1.5}
    assert validate_event(p) == []


def test_validate_event_pydantic_lax_coercions():
    """Pydantic v2 lax mode (the reference model's default): int-syntax
    strings and integral floats coerce for int fields; HttpUrl needs a
    real host, not just the scheme prefix."""
    p = _wire_event(4, "u")
    p["device"]["screen_width"] = "1920"
    p["device"]["screen_height"] = 1080.0
    p["metrics"]["load_time"] = " 250 "
    p["timestamp"] = "1704067200000"
    assert validate_event(p) == []
    # coercions normalized in place, as model_dump would serialize
    assert p["device"]["screen_width"] == 1920
    assert p["device"]["screen_height"] == 1080
    assert p["metrics"]["load_time"] == 250
    assert p["timestamp"] == 1704067200000
    # non-integral / bool / float-syntax strings still 422; so do the
    # int()-accepts-but-pydantic-rejects forms: underscore grouping and
    # non-ASCII unicode digits (ADVICE r06 — _as_int must regex-gate)
    for field_set, loc in [
        (lambda q: q["device"].update(screen_width=1920.5), "device.screen_width"),
        (lambda q: q["device"].update(screen_height=True), "device.screen_height"),
        (lambda q: q["metrics"].update(load_time="3.5"), "metrics.load_time"),
        (lambda q: q["device"].update(screen_width="1_920"), "device.screen_width"),
        (lambda q: q["device"].update(screen_height="١٠٨٠"), "device.screen_height"),
    ]:
        q = _wire_event(5, "u")
        field_set(q)
        assert any(e["loc"] == loc for e in validate_event(q)), loc
    # HttpUrl structure: scheme alone is not a URL
    for bad in ("http://", "https://", "http:///path", "ftp://example.com"):
        q = _wire_event(6, "u")
        q["context"]["url"] = bad
        assert any(e["loc"] == "context.url" for e in validate_event(q)), bad


def test_metrics_endpoint_prometheus_wire_format(tmp_path):
    """GET /metrics — the reference's three hand-registered families
    (track.py:21-23) in Prometheus text exposition format, with the
    reference's counting discipline: 422s touch no counter (FastAPI
    validates before the handler body), every valid request increments
    the counter and lands in the latency histogram."""
    import urllib.request
    import urllib.error

    from realtime_analytics_pipeline_spark.ingestion_api import (
        IngestionHttpServer,
        PROM_CONTENT_TYPE,
    )

    srv = IngestionHttpServer(str(tmp_path / "feed"))
    try:
        base = f"http://127.0.0.1:{srv.port}"

        def post(payload):
            req = urllib.request.Request(
                base + "/analytics/track",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status
            except urllib.error.HTTPError as e:
                return e.code

        assert post(_wire_event(1, "u1")) == 202
        assert post(_wire_event(2, "u2")) == 202
        assert post({"event": {}}) == 422  # invalid — must not count

        with urllib.request.urlopen(base + "/metrics") as r:
            assert r.status == 200
            assert r.headers["Content-Type"] == PROM_CONTENT_TYPE
            body = r.read().decode()
        lines = body.splitlines()
        assert "# TYPE ingestion_requests_total counter" in lines
        assert "ingestion_requests_total 2.0" in lines
        assert "# TYPE ingestion_request_latency_seconds histogram" in lines
        assert (
            'ingestion_request_latency_seconds_bucket{le="+Inf"} 2.0'
            in lines
        )
        assert "ingestion_request_latency_seconds_count 2.0" in lines
        assert "kafka_producer_errors_total 0.0" in lines
        # bucket series cumulative and 14 finite bounds + +Inf
        bucket_lines = [
            l for l in lines
            if l.startswith("ingestion_request_latency_seconds_bucket")
        ]
        assert len(bucket_lines) == 15
        counts = [float(l.rsplit(" ", 1)[1]) for l in bucket_lines]
        assert counts == sorted(counts)
    finally:
        srv.close()


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_bad_content_length_replies_400(tmp_path, length):
    """A Content-Length that is not a non-negative integer gets a 400
    that closes the connection, as uvicorn answers a malformed
    request; it does not drop the connection unanswered or wait for a
    body whose end is unknown."""
    import http.client

    srv = IngestionHttpServer(str(tmp_path / "t"))
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=3)
    try:
        conn.putrequest("POST", "/analytics/track")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", length)
        conn.endheaders(json.dumps(_wire_event(0, "u1")).encode())
        r = conn.getresponse()
        r.read()
        assert r.status == 400
        assert r.getheader("Connection") == "close"
        assert srv.producer.pending() == 0
    finally:
        conn.close()
        srv.close()


def test_failed_flush_keeps_its_events(spark, tmp_path, monkeypatch):
    """Every buffered event was answered 202, so a flush whose produce
    raises puts its batch back: the next flush writes it, in seq
    order, ahead of the sends that arrived meanwhile."""
    from realtime_analytics_pipeline_spark import ingestion_api

    feed = str(tmp_path / "t")
    producer = ingestion_api.BufferedEventProducer(feed)
    real = ingestion_api.produce_keyed
    calls = []

    def flaky(table, *args, **kwargs):
        calls.append(table.column("seq").to_pylist())
        if len(calls) == 1:
            raise OSError("injected produce failure")
        return real(table, *args, **kwargs)

    monkeypatch.setattr(ingestion_api, "produce_keyed", flaky)
    for i in range(3):
        ev = _wire_event(i, f"u{i}")
        assert validate_event(ev) == []
        producer.send(ev)
    with pytest.raises(OSError, match="injected"):
        producer.flush()
    assert producer.pending() == 3
    ev = _wire_event(3, "u0")
    validate_event(ev)
    producer.send(ev)
    assert producer.flush() == 4
    assert calls == [[0, 1, 2], [0, 1, 2, 3]]
    assert producer.pending() == 0
    rows = read_committed(spark, feed).select("seq", "value").collect()
    assert sorted(
        (r.seq, json.loads(r.value)["timestamp"]) for r in rows
    ) == [(i, 1704067200000 + i * 1000) for i in range(4)]
