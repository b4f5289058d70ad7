"""Real Redis wire protocol (RESP2) — client codec, pipelined
repository, and an in-process mini server.

The reference's cache persists windows to Redis through redis-py
(services/cache/src/infrastructure/redis/client.py:31-43,
repository.py:25-140): HSET window hashes with dotted metric fields,
EXPIRE for a TTL safety net, ZADD recency indices, a retention trim to
the newest windows and ZREVRANGE + HGETALL reads, batched over a
non-transactional pipeline.

The bytes on the socket are the real protocol. ``RespClient`` speaks
RESP2 over TCP with true pipelining (one write, N replies).
``RespCacheRepository`` makes each write batch one round trip
(HSET/EXPIRE/ZADD per window, then one ZREMRANGEBYRANK per touched
index) and each window-list read two (ZREVRANGE, then every HGETALL
in one pipeline). ``MiniRedisServer`` is a Redis subset (hashes, sorted
sets, expiry) served by ``server.TcpServer``; a production Redis is a
host:port change. Only serving-sized data crosses this socket: the
store keeps window_retention_count=120 windows per type.
"""

from __future__ import annotations

import socket
import socketserver
import threading
import time
from typing import Any

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG
from realtime_analytics_pipeline_spark.functions.coerce import convert_types
from realtime_analytics_pipeline_spark.server import TcpServer

# --- shared/constants/redis_keys.py mirror -------------------------------

WINDOW_EVENT_HASH = "metrics:event:{window_start}"
WINDOW_PERF_HASH = "metrics:perf:{window_start}"
WINDOW_EVENT_INDEX = "metrics:event:windows"
WINDOW_PERF_INDEX = "metrics:perf:windows"

# cache core/config.py:24 default (the retention count is
# EngineConfig.window_retention_count)
WINDOW_HASH_TTL = 21600

# pipeline_apply op type -> (hash key pattern, recency index)
_OP_KEYS = {
    "event": (WINDOW_EVENT_HASH, WINDOW_EVENT_INDEX),
    "perf": (WINDOW_PERF_HASH, WINDOW_PERF_INDEX),
}


# --- RESP2 codec ----------------------------------------------------------


def encode_command(*args: Any) -> bytes:
    """RESP2 client command: array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else str(a).encode()
        out.append(b"$%d\r\n%s\r\n" % (len(b), b))
    return b"".join(out)


class _Reader:
    """Incremental RESP2 reply parser over a socket (``+ - : $ *``).

    An error reply (``-``) is returned as a ``RuntimeError`` instance,
    not raised, so a pipeline can read every reply before raising."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = b""

    def _fill(self) -> None:
        chunk = self._sock.recv(65536)
        if not chunk:
            raise ConnectionError("connection closed mid-reply")
        self._buf += chunk

    def _read_line(self) -> bytes:
        while b"\r\n" not in self._buf:
            self._fill()
        line, self._buf = self._buf.split(b"\r\n", 1)
        return line

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n + 2:
            self._fill()
        data, self._buf = self._buf[:n], self._buf[n + 2 :]
        return data

    def read_reply(self) -> Any:
        line = self._read_line()
        kind, rest = line[:1], line[1:]
        if kind == b"+":
            return rest.decode()
        if kind == b"-":
            return RuntimeError(f"redis error: {rest.decode()}")
        if kind == b":":
            return int(rest)
        if kind == b"$":
            n = int(rest)
            return None if n == -1 else self._read_exact(n)
        if kind == b"*":
            n = int(rest)
            return None if n == -1 else [self.read_reply() for _ in range(n)]
        raise RuntimeError(f"bad RESP type byte: {kind!r}")


class RespClient:
    """Minimal synchronous Redis client with true pipelining.

    A socket error during a round trip closes the connection; the next
    call dials ``host:port`` again, so a restarted server is picked up
    without a new client."""

    def __init__(self, host: str, port: int, timeout: float = 30.0) -> None:
        self._addr = (host, port)
        self._timeout = timeout
        self._lock = threading.RLock()
        self._sock: socket.socket | None = None
        self._connect()

    def _connect(self) -> None:
        self._sock = socket.create_connection(self._addr, self._timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._reader = _Reader(self._sock)

    def execute(self, *args: Any) -> Any:
        return self.pipeline([args])[0]

    def pipeline(self, commands: list[tuple]) -> list[Any]:
        """One socket write for ALL commands, then N replies — the
        non-transactional pipeline of repository.py:55 (redis-py
        ``pipeline(transaction=False)``). Every reply is read before
        the first error reply is raised, so the connection stays in
        step."""
        if not commands:
            return []
        payload = b"".join(encode_command(*c) for c in commands)
        with self._lock:
            try:
                if self._sock is None:
                    self._connect()
                self._sock.sendall(payload)
                out = [self._reader.read_reply() for _ in commands]
            except OSError:
                self.close()
                raise
        for reply in out:
            if isinstance(reply, RuntimeError):
                raise reply
        return out

    def close(self) -> None:
        with self._lock:
            if self._sock is not None:
                self._sock.close()
                self._sock = None


# --- repository (reference repository.py, synchronous) --------------------


class RespCacheRepository:
    """The reference CacheRepository over a real RESP connection: one
    write path (``pipeline_apply``) and one read path
    (``_get_last_windows``)."""

    def __init__(
        self,
        client: RespClient,
        window_retention_count: int = DEFAULT_CONFIG.window_retention_count,
        window_hash_ttl: int = WINDOW_HASH_TTL,
    ) -> None:
        self.r = client
        self.window_retention_count = window_retention_count
        self.window_hash_ttl = window_hash_ttl

    def pipeline_apply(self, ops: list[dict]) -> None:
        """repository.py:47-77 in ONE pipeline: HSET/EXPIRE/ZADD per
        op, then a ZREMRANGEBYRANK per touched index that keeps its
        newest ``window_retention_count`` members. Replaying the same
        ops leaves the same store (idempotent per epoch)."""
        if not ops:
            return
        cmds: list[tuple] = []
        touched: dict[str, None] = {}
        for op in ops:
            w = op["window_start"]
            hash_pattern, index = _OP_KEYS[op["type"]]
            key = hash_pattern.format(window_start=w)
            flat = [x for kv in op["fields"].items() for x in kv]
            cmds.append(("HSET", key, *flat))
            cmds.append(("EXPIRE", key, self.window_hash_ttl))
            cmds.append(("ZADD", index, w, w))
            touched[index] = None
        keep = self.window_retention_count
        for index in touched:
            cmds.append(("ZREMRANGEBYRANK", index, 0, -(keep + 1)))
        self.r.pipeline(cmds)

    def get_latest_event_window(self) -> dict[str, Any] | None:
        latest = self.get_last_event_windows(1)
        return latest[0] if latest else None

    def get_last_event_windows(self, limit: int) -> list[dict[str, Any]]:
        return self._get_last_windows(
            WINDOW_EVENT_INDEX, WINDOW_EVENT_HASH, limit
        )

    def get_last_performance_windows(self, limit: int) -> list[dict[str, Any]]:
        return self._get_last_windows(
            WINDOW_PERF_INDEX, WINDOW_PERF_HASH, limit
        )

    def _get_last_windows(
        self, index_key: str, hash_pattern: str, limit: int
    ) -> list[dict[str, Any]]:
        """ZREVRANGE, then every HGETALL in one pipeline: two round
        trips. A window whose hash has expired is skipped."""
        ids = [
            w.decode()
            for w in self.r.execute("ZREVRANGE", index_key, 0, limit - 1)
        ]
        hashes = self.r.pipeline(
            [("HGETALL", hash_pattern.format(window_start=w)) for w in ids]
        )
        return [
            {"window_start": int(wid), **self._convert(data)}
            for wid, data in zip(ids, hashes)
            if data
        ]

    @staticmethod
    def _convert(data: list[bytes]) -> dict[str, Any]:
        """HGETALL flat array -> typed dict via the reference's
        int->float->str cascade (repository.py:117-127)."""
        pairs = zip(data[::2], data[1::2])
        return convert_types({k.decode(): v.decode() for k, v in pairs})


# --- mini Redis server ----------------------------------------------------


class _Store:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.hashes: dict[str, dict[str, str]] = {}
        self.zsets: dict[str, dict[str, float]] = {}
        self.expiry: dict[str, float] = {}

    def _evict_if_due(self, key: str) -> None:
        dl = self.expiry.get(key)
        if dl is not None and time.time() >= dl:
            self.hashes.pop(key, None)
            self.zsets.pop(key, None)
            self.expiry.pop(key, None)


class _MiniHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        reader = _Reader(self.request)
        store: _Store = self.server.app  # type: ignore[attr-defined]
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
                self.request.sendall(reply)
            except OSError:
                return

    @staticmethod
    def _dispatch(store: _Store, name: str, a: list[str]) -> bytes:
        """One command -> its reply frame (an array reply has the same
        bytes as a command of those bulk strings)."""
        with store.lock:
            if name == "PING":
                return b"+PONG\r\n"
            if name == "HSET":
                key, flat = a[0], a[1:]
                store._evict_if_due(key)
                h = store.hashes.setdefault(key, {})
                added = len(set(flat[::2]) - h.keys())
                h.update(zip(flat[::2], flat[1::2]))
                return b":%d\r\n" % added
            if name == "HGETALL":
                store._evict_if_due(a[0])
                h = store.hashes.get(a[0], {})
                return encode_command(*[x for kv in h.items() for x in kv])
            if name == "EXPIRE":
                key, ttl = a[0], int(a[1])
                if key in store.hashes or key in store.zsets:
                    store.expiry[key] = time.time() + ttl
                    return b":1\r\n"
                return b":0\r\n"
            if name == "ZADD":
                key = a[0]
                store._evict_if_due(key)
                z = store.zsets.setdefault(key, {})
                added = len(set(a[2::2]) - z.keys())
                z.update(zip(a[2::2], map(float, a[1::2])))
                return b":%d\r\n" % added
            if name == "ZCARD":
                store._evict_if_due(a[0])
                return b":%d\r\n" % len(store.zsets.get(a[0], {}))
            if name in ("ZREVRANGE", "ZREMRANGEBYRANK"):
                key, start, stop = a[0], int(a[1]), int(a[2])
                store._evict_if_due(key)
                z = store.zsets.get(key, {})
                members = sorted(z, key=lambda m: (z[m], m))
                n = len(members)
                lo = max(start + n if start < 0 else start, 0)
                hi = min(stop + n if stop < 0 else stop, n - 1)
                if name == "ZREVRANGE":
                    members.reverse()
                sel = members[lo : hi + 1] if lo <= hi else []
                if name == "ZREMRANGEBYRANK":
                    for m in sel:
                        del z[m]
                    return b":%d\r\n" % len(sel)
                return encode_command(*sel)
            if name == "FLUSHALL":
                store.hashes.clear()
                store.zsets.clear()
                store.expiry.clear()
                return b"+OK\r\n"
            raise ValueError(f"unknown command '{name}'")


class MiniRedisServer(TcpServer):
    """In-process RESP2 server over the command subset the cache
    repository uses."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        super().__init__(host, port, _MiniHandler, _Store())
