"""One base for the in-process wire endpoints (Kafka, Pulsar, MySQL, the
object stores, the KDC, the OAuth2 issuer, the schema registry and the
HTTP API).

:class:`Endpoint` owns what every listener shares: a threaded TCP
server, TLS material for ``tls``/``mutual_tls``, one TLS policy, and the
``start``/``stop``/context-manager lifecycle.  The TLS policy: the
handshake runs in the connection's own worker thread, so a client that
connects and never speaks (or fails its handshake) holds up only its own
connection, never the accept loop.

HTTP endpoints pass a :class:`QuietHandler` subclass to ``_listen``;
binary protocols implement ``_serve(sock)``, called once per connection.
"""

from __future__ import annotations

import socket
import socketserver
import ssl
import threading
from http.server import BaseHTTPRequestHandler
from typing import Self

from ticdc_spark.codec import tlsutil


def recv_exact(sock, n: int) -> bytes | None:
    """Read exactly ``n`` bytes; None when the peer closes first."""
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True
    # executor tasks connect in one burst per wave; the stdlib backlog
    # of 5 drops SYNs -> 1 s retransmit per connect
    request_queue_size = 128

    def __init__(self, address, handler, endpoint: Endpoint,
                 tls_ctx: ssl.SSLContext | None):
        self.endpoint = endpoint
        self.tls_ctx = tls_ctx
        super().__init__(address, handler)

    def finish_request(self, request, client_address):
        # a reply can flush in 2 TCP segments (headers, body); with Nagle
        # on, the second waits for the client's delayed ACK: ~40 ms each
        request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if self.tls_ctx is None:
            return super().finish_request(request, client_address)
        try:
            tls_sock = self.tls_ctx.wrap_socket(request, server_side=True)
        except (ssl.SSLError, OSError):
            return  # failed handshake (plaintext client, wrong CA, no cert)
        try:
            super().finish_request(tls_sock, client_address)
        finally:
            self.shutdown_request(tls_sock)


class _StreamHandler(socketserver.BaseRequestHandler):
    def handle(self):
        try:
            self.server.endpoint._serve(self.request)
        except (ConnectionResetError, BrokenPipeError):
            return


class QuietHandler(BaseHTTPRequestHandler):
    """HTTP request handler base: no per-request stderr log, one body
    read and one reply helper."""

    def log_message(self, *args):
        pass

    def read_body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length") or 0))

    def reply(self, code: int, body: bytes = b"", ctype: str | None = None,
              headers: dict[str, str] | None = None) -> None:
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        if ctype is not None:
            self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)


class Endpoint:
    """Lifecycle, TLS material and listening socket of one in-process
    endpoint.  ``tls=True`` serves a fresh self-signed certificate that
    clients pin via ``ca_pem``; ``mutual_tls=True`` serves a CA-signed
    one and demands a client certificate chained to ``ca_pem`` (mint one
    with :meth:`issue_client_cert`)."""

    # False for a protocol that starts TLS itself (MySQL's SSLRequest):
    # the listener then accepts plaintext and the protocol wraps the
    # socket with ``_tls_ctx`` when the client asks
    _tls_on_accept = True

    def __init__(self, host: str = "127.0.0.1", tls: bool = False,
                 mutual_tls: bool = False):
        if mutual_tls and not tls:
            raise ValueError("mutual_tls requires tls=True")
        self.host = host
        self.tls = tls
        self.mutual_tls = mutual_tls
        self.ca_pem: bytes | None = None
        self._ca_key: bytes | None = None
        self._tls_ctx: ssl.SSLContext | None = None
        if mutual_tls:
            self.ca_pem, self._ca_key, self._tls_ctx = (
                tlsutil.mutual_server_material(host))
        elif tls:
            cert_pem, key_pem = tlsutil.make_self_signed(host)
            self.ca_pem = cert_pem
            self._tls_ctx = tlsutil.server_context(cert_pem, key_pem)
        self.port: int | None = None
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None

    def _listen(self, handler: type | None = None, port: int = 0) -> None:
        """Bind the listening socket.  HTTP endpoints pass their handler
        class; binary protocols pass none and implement ``_serve``."""
        self._server = _Server(
            (self.host, port), handler or _StreamHandler, self,
            self._tls_ctx if self._tls_on_accept else None)
        self.port = self._server.server_address[1]

    def _serve(self, sock) -> None:
        raise NotImplementedError

    def start(self) -> Self:
        self._thread = threading.Thread(
            target=self._server.serve_forever, name=type(self).__name__,
            daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        server, self._server = self._server, None
        if server is None:
            return
        if self._thread is not None:
            server.shutdown()
        server.server_close()

    def __enter__(self) -> Self:
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def issue_client_cert(self, name: str = "client") -> tuple[bytes, bytes]:
        """Mint a client certificate the mutual-TLS listener accepts
        (-> (cert_pem, key_pem), chained to ``ca_pem``)."""
        if self._ca_key is None:
            raise ValueError(f"{type(self).__name__} is not in mutual_tls mode")
        return tlsutil.issue_cert(self.ca_pem, self._ca_key, name, client=True)
