"""Real Redis wire protocol (RESP2 + RESP3) — client codec, pipelined
repository, and an in-process mini server.

The reference's cache persists windows to Redis through redis-py
(services/cache/src/infrastructure/redis/client.py:31-43,
repository.py:25-77): HSET window hashes with dotted metric fields,
EXPIRE for a TTL safety net, ZADD recency indices, ZCARD +
ZREMRANGEBYRANK retention trim, ZREVRANGE + HGETALL reads, PUBLISH
update fan-out — batched over a non-transactional pipeline.

No Redis server ships in this container, so previously the engine
covered S7 only as a retention-view *analog*. This module closes the
protocol half the same way the JDBC half closed ClickHouse: the bytes
on the socket are the real protocol. ``RespClient`` speaks RESP2
(``*N\\r\\n$len\\r\\n...``) over a TCP socket with true pipelining (one
write, N replies); ``RespCacheRepository`` issues the exact command
sequence of reference repository.py; ``MiniRedisServer`` is a
stdlib-socketserver Redis subset (hashes, sorted sets, expiry,
publish) faithful enough that redis-cli could talk to it. Swapping a
production Redis for the mini server is a host:port change — the
client/repository side is production-shaped.

Round-9 adds RESP3 parity (the protocol redis-py ≥5 negotiates by
default via HELLO 3): typed frames (map ``%``, set ``~``, boolean
``#``, double ``,``, big number ``(``, null ``_``, verbatim ``=``),
out-of-band push frames (``>``) with REAL pub/sub delivery in the mini
server (SUBSCRIBE under RESP3; PUBLISH fans the message out to
subscriber connections and returns the true receiver count), HGETALL
as a map reply, and a repository that reads identically under either
protocol — the cache read API the reference's WebSocket layer listens
on (repository.py PUBLISH → cache:updates) now has both wire halves.

Scale note: the repository write path is designed for foreachBatch —
one pipeline round-trip per micro-batch partition of serving-sized
data (the reference caps stores at window_retention_count=120 per
type); nothing event-scale ever crosses this socket.
"""

from __future__ import annotations

import socket
import socketserver
import threading
import time
from typing import Any

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG
from realtime_analytics_pipeline_spark.functions.coerce import convert_types

# --- shared/constants/redis_keys.py mirror -------------------------------

WINDOW_EVENT_HASH = "metrics:event:{window_start}"
WINDOW_PERF_HASH = "metrics:perf:{window_start}"
WINDOW_EVENT_INDEX = "metrics:event:windows"
WINDOW_PERF_INDEX = "metrics:perf:windows"
PUBSUB_CHANNEL_UPDATES = "cache:updates"

# cache core/config.py:24 default (the retention count is
# EngineConfig.window_retention_count)
WINDOW_HASH_TTL = 21600


def window_key(metric_type: str, window_start: int) -> str:
    patterns = {"event": WINDOW_EVENT_HASH, "performance": WINDOW_PERF_HASH}
    if metric_type not in patterns:
        raise ValueError(f"Unknown metric type: {metric_type}")
    return patterns[metric_type].format(window_start=window_start)


# --- RESP2 codec ----------------------------------------------------------


def encode_command(*args: Any) -> bytes:
    """RESP2 client command: array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else str(a).encode()
        out.append(b"$%d\r\n%s\r\n" % (len(b), b))
    return b"".join(out)


class Push(list):
    """A RESP3 out-of-band push frame (``>``) — e.g. pub/sub message
    delivery. Distinct type so callers can tell pushes from replies."""


class _Reader:
    """Incremental RESP2/RESP3 reply parser over a socket.

    RESP2 frames: ``+ - : $ *``. RESP3 additions (public Redis
    protocol spec, negotiated via HELLO 3): ``%`` map, ``~`` set,
    ``#`` boolean, ``,`` double, ``(`` big number, ``_`` null,
    ``=`` verbatim string, ``>`` push."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = b""

    def _read_line(self) -> bytes:
        while b"\r\n" not in self._buf:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("connection closed mid-reply")
            self._buf += chunk
        line, self._buf = self._buf.split(b"\r\n", 1)
        return line

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n + 2:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("connection closed mid-bulk")
            self._buf += chunk
        data, self._buf = self._buf[:n], self._buf[n + 2 :]
        return data

    def read_reply(self) -> Any:
        line = self._read_line()
        kind, rest = line[:1], line[1:]
        if kind == b"+":
            return rest.decode()
        if kind == b"-":
            raise RuntimeError(f"redis error: {rest.decode()}")
        if kind == b":":
            return int(rest)
        if kind == b"$":
            n = int(rest)
            return None if n == -1 else self._read_exact(n)
        if kind == b"*":
            n = int(rest)
            return None if n == -1 else [self.read_reply() for _ in range(n)]
        # --- RESP3 frame types ---
        if kind == b"%":
            n = int(rest)
            out: dict[Any, Any] = {}
            for _ in range(n):
                k = self.read_reply()
                if isinstance(k, bytes):  # hashable, decoded keys
                    k = k.decode()
                out[k] = self.read_reply()
            return out
        if kind == b"~":
            return [self.read_reply() for _ in range(int(rest))]
        if kind == b"#":
            return rest == b"t"
        if kind == b",":
            return float(rest)  # handles inf/-inf/nan spellings
        if kind == b"(":
            return int(rest)
        if kind == b"_":
            return None
        if kind == b"=":
            # verbatim string: n bytes of "fmt:payload"
            return self._read_exact(int(rest))
        if kind == b">":
            return Push(self.read_reply() for _ in range(int(rest)))
        raise RuntimeError(f"bad RESP type byte: {kind!r}")


class RespClient:
    """Minimal synchronous Redis client with true pipelining.

    Speaks RESP2 by default; ``hello(3)`` upgrades the connection to
    RESP3 (map replies, typed frames, out-of-band pushes). Push frames
    that arrive interleaved with replies are buffered on ``pushes``
    (the RESP3 contract: a push may precede any reply)."""

    def __init__(self, host: str, port: int, timeout: float = 30.0) -> None:
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._reader = _Reader(self._sock)
        self._lock = threading.Lock()
        self.protocol = 2
        self.pushes: list[Push] = []

    def hello(self, proto: int = 3) -> dict | list:
        """HELLO negotiation; on success the connection speaks
        ``proto``. Returns the server's handshake reply (a map under
        RESP3, a flat array under RESP2)."""
        reply = self.execute("HELLO", proto)
        self.protocol = proto
        return reply

    def execute(self, *args: Any) -> Any:
        return self.pipeline([args])[0]

    def pipeline(self, commands: list[tuple]) -> list[Any]:
        """One socket write for ALL commands, then N replies — the
        non-transactional pipeline of repository.py:55 (redis-py
        ``pipeline(transaction=False)``)."""
        if not commands:
            return []
        payload = b"".join(encode_command(*c) for c in commands)
        with self._lock:
            self._sock.sendall(payload)
            out = []
            for _ in commands:
                reply = self._reader.read_reply()
                while isinstance(reply, Push):
                    self.pushes.append(reply)
                    reply = self._reader.read_reply()
                out.append(reply)
            return out

    def subscribe(self, channel: str) -> Push:
        """SUBSCRIBE (RESP3 connections): the confirmation arrives AS a
        push frame, so ``execute`` (which waits for a regular reply
        past any pushes) would block — read the one frame directly."""
        with self._lock:
            self._sock.sendall(encode_command("SUBSCRIBE", channel))
            reply = self._reader.read_reply()
        if not isinstance(reply, Push):
            raise RuntimeError(f"expected subscribe push, got {reply!r}")
        return reply

    def read_push(self, timeout: float | None = None) -> Push:
        """Block until a push frame arrives (RESP3 pub/sub delivery).
        Buffered pushes (seen interleaved with replies) drain first."""
        if self.pushes:
            return self.pushes.pop(0)
        prev_timeout = self._sock.gettimeout()
        try:
            if timeout is not None:
                self._sock.settimeout(timeout)
            with self._lock:
                reply = self._reader.read_reply()
        finally:
            # the socket is shared with execute/pipeline — a shortened
            # read timeout must not leak past this call
            self._sock.settimeout(prev_timeout)
        if not isinstance(reply, Push):
            raise RuntimeError(f"expected push frame, got {reply!r}")
        return reply

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


# --- repository (reference repository.py, synchronous) --------------------


class RespCacheRepository:
    """Command-for-command mirror of the reference CacheRepository over
    a real RESP connection (store, pipeline_apply, trim, reads)."""

    def __init__(
        self,
        client: RespClient,
        window_retention_count: int = DEFAULT_CONFIG.window_retention_count,
        window_hash_ttl: int = WINDOW_HASH_TTL,
    ) -> None:
        self.r = client
        self.window_retention_count = window_retention_count
        self.window_hash_ttl = window_hash_ttl

    @staticmethod
    def _hset_cmd(key: str, fields: dict[str, Any]) -> tuple:
        flat: list[Any] = []
        for k, v in fields.items():
            flat.extend((k, v))
        return ("HSET", key, *flat)

    def store_event_window(
        self, window_start_ms: int, fields: dict[str, Any]
    ) -> None:
        key = window_key("event", window_start_ms)
        self.r.pipeline(
            [
                self._hset_cmd(key, fields),
                ("EXPIRE", key, self.window_hash_ttl),
                ("ZADD", WINDOW_EVENT_INDEX, window_start_ms, window_start_ms),
            ]
        )
        self._trim_index(WINDOW_EVENT_INDEX)

    def store_performance_window(
        self, window_start_ms: int, fields: dict[str, Any]
    ) -> None:
        key = window_key("performance", window_start_ms)
        self.r.pipeline(
            [
                self._hset_cmd(key, fields),
                ("EXPIRE", key, self.window_hash_ttl),
                ("ZADD", WINDOW_PERF_INDEX, window_start_ms, window_start_ms),
            ]
        )
        self._trim_index(WINDOW_PERF_INDEX)

    def pipeline_apply(self, ops: list[dict]) -> None:
        """repository.py:47-77: batched HSET/EXPIRE/ZADD per op in ONE
        pipeline, then trim only the touched indices."""
        if not ops:
            return
        cmds: list[tuple] = []
        saw_event = saw_perf = False
        for op in ops:
            w = op["window_start"]
            if op["type"] == "event":
                saw_event = True
                key = window_key("event", w)
                index = WINDOW_EVENT_INDEX
            elif op["type"] == "perf":
                saw_perf = True
                key = window_key("performance", w)
                index = WINDOW_PERF_INDEX
            else:
                continue
            cmds.append(self._hset_cmd(key, op["fields"]))
            cmds.append(("EXPIRE", key, self.window_hash_ttl))
            cmds.append(("ZADD", index, w, w))
        self.r.pipeline(cmds)
        if saw_event:
            self._trim_index(WINDOW_EVENT_INDEX)
        if saw_perf:
            self._trim_index(WINDOW_PERF_INDEX)

    def get_latest_event_window(self) -> dict[str, Any] | None:
        ids = self.r.execute("ZREVRANGE", WINDOW_EVENT_INDEX, 0, 0)
        if not ids:
            return None
        wid = ids[0].decode()
        data = self.r.execute(
            "HGETALL", WINDOW_EVENT_HASH.format(window_start=wid)
        )
        if not data:
            return None
        return {"window_start": int(wid), **self._convert(data)}

    def get_last_event_windows(self, limit: int) -> list[dict[str, Any]]:
        return self._get_last_windows(
            WINDOW_EVENT_INDEX, WINDOW_EVENT_HASH, limit
        )

    def get_last_performance_windows(self, limit: int) -> list[dict[str, Any]]:
        return self._get_last_windows(
            WINDOW_PERF_INDEX, WINDOW_PERF_HASH, limit
        )

    def publish_update(self, payload: dict[str, Any]) -> int:
        import json

        return self.r.execute(
            "PUBLISH", PUBSUB_CHANNEL_UPDATES, json.dumps(payload)
        )

    def _trim_index(self, index_key: str) -> None:
        size = self.r.execute("ZCARD", index_key)
        if size > self.window_retention_count:
            excess = size - self.window_retention_count
            self.r.execute("ZREMRANGEBYRANK", index_key, 0, excess - 1)

    @staticmethod
    def _convert(data: list[bytes] | dict) -> dict[str, Any]:
        """HGETALL reply -> typed dict via the reference's
        int->float->str cascade (repository.py:117-127). Accepts both
        wire shapes: the RESP2 flat array and the RESP3 map."""
        if isinstance(data, dict):  # RESP3 map reply (keys pre-decoded)
            pairs = {
                k: v.decode() if isinstance(v, bytes) else str(v)
                for k, v in data.items()
            }
        else:
            pairs = {
                data[i].decode(): data[i + 1].decode()
                for i in range(0, len(data), 2)
            }
        return convert_types(pairs)

    def _get_last_windows(
        self, index_key: str, hash_pattern: str, limit: int
    ) -> list[dict[str, Any]]:
        ids = self.r.execute("ZREVRANGE", index_key, 0, limit - 1)
        results = []
        for wid_b in ids or []:
            wid = wid_b.decode()
            data = self.r.execute(
                "HGETALL", hash_pattern.format(window_start=wid)
            )
            if data:
                results.append(
                    {"window_start": int(wid), **self._convert(data)}
                )
        return results


# --- mini Redis server ----------------------------------------------------


class _Store:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.hashes: dict[str, dict[str, str]] = {}
        self.zsets: dict[str, dict[str, float]] = {}
        self.expiry: dict[str, float] = {}
        # channel -> list of subscribed RESP3 handler connections
        self.subscribers: dict[str, list] = {}

    def drop_subscriber(self, handler) -> None:
        with self.lock:
            for subs in self.subscribers.values():
                if handler in subs:
                    subs.remove(handler)

    def _evict_if_due(self, key: str) -> None:
        dl = self.expiry.get(key)
        if dl is not None and time.time() >= dl:
            self.hashes.pop(key, None)
            self.zsets.pop(key, None)
            self.expiry.pop(key, None)


class _MiniHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # noqa: C901 — a flat command switch
        reader = _Reader(self.request)
        store: _Store = self.server.store  # type: ignore[attr-defined]
        self.proto = 2  # per-connection; HELLO 3 upgrades
        self.send_lock = threading.Lock()  # vs pub/sub push delivery
        try:
            while True:
                try:
                    cmd = reader.read_reply()
                except (ConnectionError, OSError):
                    return
                if not isinstance(cmd, list) or not cmd:
                    self.request.sendall(b"-ERR protocol error\r\n")
                    return
                name = cmd[0].decode().upper()
                args = [a.decode() for a in cmd[1:]]
                try:
                    reply = self._dispatch(store, name, args)
                except Exception as e:  # noqa: BLE001 — -ERR is the contract
                    reply = b"-ERR %s\r\n" % str(e).encode()
                try:
                    with self.send_lock:
                        self.request.sendall(reply)
                except OSError:
                    return
        finally:
            store.drop_subscriber(self)

    @staticmethod
    def _int_reply(n: int) -> bytes:
        return b":%d\r\n" % n

    @staticmethod
    def _bulk(s: str) -> bytes:
        b = s.encode()
        return b"$%d\r\n%s\r\n" % (len(b), b)

    @staticmethod
    def _array_reply(items: list[str]) -> bytes:
        out = [b"*%d\r\n" % len(items)]
        for s in items:
            b = s.encode()
            out.append(b"$%d\r\n%s\r\n" % (len(b), b))
        return b"".join(out)

    def _map_reply(self, pairs: list[tuple[str, bytes]]) -> bytes:
        """RESP3 ``%`` map of (bulk key, pre-encoded value frame)."""
        out = [b"%%%d\r\n" % len(pairs)]
        for k, vframe in pairs:
            out.append(self._bulk(k))
            out.append(vframe)
        return b"".join(out)

    def _push_frame(self, items: list[str]) -> bytes:
        out = [b">%d\r\n" % len(items)]
        for s in items:
            out.append(self._bulk(s))
        return b"".join(out)

    def _publish(self, store: _Store, channel: str, payload: str) -> bytes:
        """PUBLISH fan-out. The subscriber list is SNAPSHOTTED under
        store.lock but sendall() runs after releasing it — one stalled
        subscriber with a full TCP send buffer must only block this
        publisher, not every connection of the server (per-connection
        send_lock still serializes frames on each socket)."""
        frame = (
            b">3\r\n"
            + self._bulk("message")
            + self._bulk(channel)
            + self._bulk(payload)
        )
        with store.lock:
            subs = list(store.subscribers.get(channel, []))
        delivered = 0
        dead = []
        for sub in subs:
            try:
                with sub.send_lock:
                    sub.request.sendall(frame)
                delivered += 1
            except OSError:
                dead.append(sub)
        if dead:
            with store.lock:
                for sub in dead:
                    try:
                        store.subscribers[channel].remove(sub)
                    except (KeyError, ValueError):
                        pass
        return self._int_reply(delivered)

    def _dispatch(self, store: _Store, name: str, a: list[str]) -> bytes:
        if name == "PUBLISH":
            return self._publish(store, a[0], a[1])
        with store.lock:
            if name == "PING":
                return b"+PONG\r\n"
            if name == "HELLO":
                want = int(a[0]) if a else 2
                if want not in (2, 3):
                    raise ValueError("unsupported protocol version")
                self.proto = want
                info = [
                    ("server", self._bulk("mini-redis")),
                    ("version", self._bulk("7.0-mini")),
                    ("proto", self._int_reply(want)),
                    ("mode", self._bulk("standalone")),
                ]
                if want == 3:
                    return self._map_reply(info)
                # RESP2 HELLO: the same pairs as a flat array
                out = [b"*%d\r\n" % (2 * len(info))]
                for k, vframe in info:
                    out.append(self._bulk(k))
                    out.append(vframe)
                return b"".join(out)
            if name == "SUBSCRIBE":
                if self.proto != 3:
                    # the mini server supports pub/sub delivery only as
                    # RESP3 push frames (the parity point); RESP2
                    # subscriber connections are out of scope
                    raise ValueError("SUBSCRIBE requires HELLO 3")
                channel = a[0]
                subs = store.subscribers.setdefault(channel, [])
                if self not in subs:
                    subs.append(self)
                n_ch = sum(
                    1 for s in store.subscribers.values() if self in s
                )
                # real Redis confirms with a push: bulk, bulk, integer
                return (
                    b">3\r\n"
                    + self._bulk("subscribe")
                    + self._bulk(channel)
                    + self._int_reply(n_ch)
                )
            if name == "HSET":
                key, flat = a[0], a[1:]
                store._evict_if_due(key)
                h = store.hashes.setdefault(key, {})
                added = 0
                for i in range(0, len(flat), 2):
                    if flat[i] not in h:
                        added += 1
                    h[flat[i]] = flat[i + 1]
                return self._int_reply(added)
            if name == "HGETALL":
                store._evict_if_due(a[0])
                h = store.hashes.get(a[0], {})
                if self.proto == 3:  # RESP3: HGETALL is a map reply
                    return self._map_reply(
                        [(k, self._bulk(v)) for k, v in h.items()]
                    )
                flat: list[str] = []
                for k, v in h.items():
                    flat.extend((k, v))
                return self._array_reply(flat)
            if name == "EXPIRE":
                key, ttl = a[0], int(a[1])
                if key in store.hashes or key in store.zsets:
                    store.expiry[key] = time.time() + ttl
                    return self._int_reply(1)
                return self._int_reply(0)
            if name == "ZADD":
                key = a[0]
                store._evict_if_due(key)
                z = store.zsets.setdefault(key, {})
                added = 0
                for i in range(1, len(a), 2):
                    member = a[i + 1]
                    if member not in z:
                        added += 1
                    z[member] = float(a[i])
                return self._int_reply(added)
            if name == "ZCARD":
                store._evict_if_due(a[0])
                return self._int_reply(len(store.zsets.get(a[0], {})))
            if name in ("ZREVRANGE", "ZRANGE", "ZREMRANGEBYRANK"):
                key, start, stop = a[0], int(a[1]), int(a[2])
                store._evict_if_due(key)
                z = store.zsets.get(key, {})
                members = sorted(z, key=lambda m: (z[m], m))
                n = len(members)
                lo = start + n if start < 0 else start
                hi = stop + n if stop < 0 else stop
                hi = min(hi, n - 1)
                lo = max(lo, 0)
                sel = members[lo : hi + 1] if lo <= hi else []
                if name == "ZREMRANGEBYRANK":
                    for m in sel:
                        del z[m]
                    return self._int_reply(len(sel))
                if name == "ZREVRANGE":
                    sel = list(reversed(members))[lo : hi + 1] if lo <= hi else []
                return self._array_reply(sel)
            if name == "DEL":
                n = 0
                for key in a:
                    hit = key in store.hashes or key in store.zsets
                    store.hashes.pop(key, None)
                    store.zsets.pop(key, None)
                    store.expiry.pop(key, None)
                    n += 1 if hit else 0
                return self._int_reply(n)
            if name == "FLUSHALL":
                store.hashes.clear()
                store.zsets.clear()
                store.expiry.clear()
                return b"+OK\r\n"
            raise ValueError(f"unknown command '{name}'")


class MiniRedisServer:
    """In-process RESP2 server over the command subset the cache
    repository uses. ``port=0`` binds ephemeral."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        class _Srv(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._srv = _Srv((host, port), _MiniHandler)
        self._srv.store = _Store()  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
