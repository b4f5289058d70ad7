"""One scaffold for the in-process servers: the ingestion app, the
cache app and the mini Redis.

``TcpServer`` serves from construction, one daemon thread per
connection with TCP_NODELAY, reports ``.port`` (``port=0`` binds
ephemeral) and hands its handler ``self.server.app``. ``close()`` ends
service: it stops the listener, shuts down every open connection, so
no keep-alive client goes on talking to a closed server, and joins
every thread the server started.

``RouteHandler`` serves a ``{(method, path): route}`` app over HTTP/1.1
keep-alive, as uvicorn does. ``route(query, body)`` returns ``(status,
payload[, content_type])``: a ``str`` is text/plain, anything else
JSON. Every reply carries ``Content-Length``; an unknown route gets
Starlette's JSON 404, a route that raises a logged plain-text 500, and
a ``Content-Length`` that is not a non-negative integer a 400 that
closes the connection, as h11 answers a malformed request. A
connection idle for ``timeout`` seconds is closed, so an idle client
does not hold its thread for ever.
"""

from __future__ import annotations

import json
import logging
import socket
import socketserver
import threading
from http.server import BaseHTTPRequestHandler
from typing import Any

_log = logging.getLogger(__name__)


class TcpServer(socketserver.TCPServer):
    allow_reuse_address = True

    def __init__(self, host: str, port: int, handler: type, app: Any) -> None:
        super().__init__((host, port), handler)
        self.app = app
        self._lock = threading.Lock()
        self._live: dict[socket.socket, threading.Thread] = {}
        self._serving = threading.Thread(target=self.serve_forever, daemon=True)
        self._serving.start()

    @property
    def port(self) -> int:
        return self.server_address[1]

    def process_request(self, request, client_address) -> None:
        # one send per reply: without TCP_NODELAY, Nagle holds the next
        # reply of a pipelined or keep-alive client for its delayed ACK
        request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        t = threading.Thread(
            target=self._serve, args=(request, client_address), daemon=True
        )
        with self._lock:
            self._live[request] = t
        t.start()

    def _serve(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one connection's fault
            self.handle_error(request, client_address)
        finally:
            with self._lock:
                del self._live[request]
            self.shutdown_request(request)

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self._serving.join()
        with self._lock:
            live = list(self._live.items())
        for sock, _ in live:
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:  # its own thread closed it meanwhile
                pass
        for _, t in live:
            t.join()


class RouteHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    # uvicorn's keep-alive timeout is 5 s; 10 s also covers a client
    # that connects a few seconds before its first request
    timeout = 10.0

    def log_message(self, *args: Any) -> None:  # quiet test output
        pass

    def reply(self, status: int, payload: Any, ctype: str | None = None) -> None:
        if isinstance(payload, str):
            body, ctype = payload.encode(), ctype or "text/plain"
        else:
            body, ctype = json.dumps(payload).encode(), ctype or "application/json"
        self.send_response(status)
        if self.close_connection:
            self.send_header("Connection", "close")
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _dispatch(self) -> None:
        try:
            n = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            n = -1
        if n < 0:
            self.close_connection = True  # where the body ends is unknown
            self.reply(400, "Invalid HTTP request received.")
            return
        body = self.rfile.read(n)
        path, _, query = self.path.partition("?")
        route = self.server.app.get((self.command, path))
        if route is None:
            self.reply(404, {"detail": "Not Found"})
            return
        try:
            out = route(query, body)
        except Exception:  # noqa: BLE001 — Starlette's 500 reply
            _log.exception("%s %s failed", self.command, path)
            out = (500, "Internal Server Error")
        self.reply(*out)

    do_GET = do_POST = _dispatch
