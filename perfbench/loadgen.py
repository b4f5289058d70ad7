"""Load generator: a separate process, two threads, two connections.

Open loop. One thread POSTs the seeded events to ``/analytics/track``
on one keep-alive connection at a fixed rate; one thread reads the
cache on one RESP connection at a fixed rate, with the reads the
reference's cache API serves. Every latency is timed from the
scheduled send time, so a stall also counts against the requests
queued behind it. One connection for POSTs keeps arrival order equal
to send order, so the only disorder the engine sees is the disorder
the generator stamps into event times.

Protocol with the system process: the first stdin line is the wall
time of offset 0. After its last POST it prints ``posts_done`` on
stdout, keeps reading until the next stdin line, then writes its
record to ``--out`` and exits.

``--closed-loop N`` instead sends N POSTs back to back and prints the
achieved rate: the ceiling the open-loop rate is chosen against.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import events  # noqa: E402

READ_LIMIT = 20  # the cache API's default window count


def _connect(port: int) -> http.client.HTTPConnection:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.connect()
    conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return conn


class Poster:
    def __init__(self, port: int) -> None:
        self.port = port
        self.conn = _connect(port)

    def post(self, body: bytes) -> int:
        try:
            self.conn.request(
                "POST",
                "/analytics/track",
                body=body,
                headers={"Content-Type": "application/json"},
            )
            resp = self.conn.getresponse()
            resp.read()
            return resp.status
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = _connect(self.port)
            return 0


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


def run_posts(args, start_at: float, bodies: list[bytes], rec: dict) -> None:
    poster = Poster(args.http_port)
    posts = rec["posts"]
    for i, body in enumerate(bodies):
        due = start_at + i / args.rate
        _sleep_until(due)
        sent = time.time()
        status = poster.post(body)
        done = time.time()
        posts.append((round(due - start_at, 6), round((sent - due) * 1e3, 3),
                      round((done - due) * 1e3, 3), status))
    close_body = events.encode(events.closing_payload(args.seed, args.close_ms))
    rec["closing_status"] = poster.post(close_body)
    poster.conn.close()


def run_reads(args, start_at: float, stop: threading.Event, rec: dict) -> None:
    from realtime_analytics_pipeline_spark.resp import (
        RespCacheRepository,
        RespClient,
    )

    def connect():
        return RespCacheRepository(RespClient("127.0.0.1", args.redis_port))

    repo = connect()
    reads = rec["reads"]
    i = 0
    while not stop.is_set():
        due = start_at + i / args.read_rate
        _sleep_until(due)
        kind = i % 3
        ok = True
        try:
            if kind == 0:
                repo.get_last_event_windows(READ_LIMIT)
            elif kind == 1:
                repo.get_latest_event_window()
            else:
                repo.get_last_performance_windows(READ_LIMIT)
        except (OSError, RuntimeError):
            ok = False
            repo.r.close()
            repo = connect()
        done = time.time()
        reads.append((kind, round(due - start_at, 6), round((done - due) * 1e3, 3), ok))
        i += 1
    repo.r.close()


def closed_loop(args) -> None:
    bodies = [events.encode(b) for b in events.payloads(
        args.seed, "live", 0, args.closed_loop, [0.0] * args.closed_loop)]
    poster = Poster(args.http_port)
    t0 = time.time()
    ok = sum(poster.post(b) == 202 for b in bodies)
    dt = time.time() - t0
    print(json.dumps({"sent": len(bodies), "accepted": ok, "rate": len(bodies) / dt}))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--http-port", type=int, required=True)
    ap.add_argument("--redis-port", type=int)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--rate", type=float, default=1.0, help="POSTs per second")
    ap.add_argument("--read-rate", type=float, default=1.0, help="reads per second")
    ap.add_argument("--count", type=int, default=0, help="events to POST")
    ap.add_argument("--close-ms", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--closed-loop", type=int, default=0)
    args = ap.parse_args(argv)
    if args.closed_loop:
        closed_loop(args)
        return

    offsets = [i / args.rate for i in range(args.count)]
    bodies = [events.encode(b) for b in events.payloads(
        args.seed, "live", 0, args.count, offsets)]
    import realtime_analytics_pipeline_spark.resp  # noqa: F401 — import before timing starts

    rec = {"posts": [], "reads": [], "closing_status": None}
    start_at = float(sys.stdin.readline())  # the system sends the start time when ready
    stop = threading.Event()
    reader = threading.Thread(target=run_reads, args=(args, start_at, stop, rec))
    reader.start()
    try:
        run_posts(args, start_at, bodies, rec)
        print("posts_done", flush=True)
        sys.stdin.readline()
    finally:
        stop.set()
        reader.join()
    with open(args.out, "w") as fh:
        json.dump(rec, fh)


if __name__ == "__main__":
    main()
