"""The shared endpoint base (ticdc_spark/endpoint.py).

One TLS policy for every TLS-capable listener: the handshake runs in the
connection's own worker thread, so a client that connects and never
sends a ClientHello cannot stall the accept loop for everyone else.  A
structural guard keeps the listener plumbing in the base alone.
"""

from __future__ import annotations

import ast
import pathlib
import socket
import time

import pytest

import ticdc_spark
from ticdc_spark.api import ApiServer
from ticdc_spark.codec import tlsutil
from ticdc_spark.sinks.azblob_server import MiniAzureBlobServer
from ticdc_spark.sinks.gcs_server import MiniGCSServer
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.mysql_client import MySQLConn
from ticdc_spark.sinks.mysql_server import MiniMySQLServer
from ticdc_spark.sinks.pulsar_broker import PulsarBroker
from ticdc_spark.sinks.s3_server import MiniS3Server
from ticdc_spark.streaming.registry import ChangefeedRegistry

_TLS_LISTENERS = {
    "kafka": lambda tmp: KafkaBroker(tls=True),
    "pulsar": lambda tmp: PulsarBroker(tls=True),
    "mysql": lambda tmp: MiniMySQLServer(tls=True),
    "s3": lambda tmp: MiniS3Server(tls=True),
    "gcs": lambda tmp: MiniGCSServer(tls=True),
    "azblob": lambda tmp: MiniAzureBlobServer(tls=True),
    "api": lambda tmp: ApiServer(ChangefeedRegistry(str(tmp / "reg")),
                                 tls=True),
}


def _tls_handshake(srv, timeout: float) -> None:
    if isinstance(srv, MiniMySQLServer):
        # MySQL upgrades after its greeting (SSLRequest), then authenticates
        with MySQLConn(srv.host, srv.port, "root", "secret",
                       timeout=timeout, tls_ca=srv.ca_pem):
            return
    ctx = tlsutil.client_context(srv.ca_pem)
    with socket.create_connection((srv.host, srv.port),
                                  timeout=timeout) as raw:
        with ctx.wrap_socket(raw, server_hostname=srv.host):
            pass


@pytest.mark.parametrize("name", sorted(_TLS_LISTENERS))
def test_silent_client_does_not_block_tls_handshake(name, tmp_path):
    with _TLS_LISTENERS[name](tmp_path) as srv:
        with socket.create_connection((srv.host, srv.port)):
            # connected, never sends a ClientHello
            t0 = time.monotonic()
            _tls_handshake(srv, timeout=1.0)
            assert time.monotonic() - t0 < 1.0


_SERVER_BASES = {"TCPServer", "ThreadingTCPServer", "HTTPServer",
                 "ThreadingHTTPServer", "ThreadingMixIn"}
_BASE_ONLY_DEFS = {"_recv_exact", "recv_exact", "issue_client_cert"}
# the serve thread, the stop sequence and the TLS-material block
_BASE_ONLY_CALLS = {"serve_forever", "server_close", "mutual_server_material",
                    "make_self_signed", "server_context"}


def _plumbing(node: ast.AST) -> str | None:
    if isinstance(node, ast.ClassDef):
        bases = {b.attr if isinstance(b, ast.Attribute) else getattr(b, "id", "")
                 for b in node.bases}
        if bases & _SERVER_BASES:
            return f"server subclass {node.name}"
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
            and node.name in _BASE_ONLY_DEFS:
        return f"def {node.name}"
    if isinstance(node, ast.Attribute) and node.attr in _BASE_ONLY_CALLS:
        return node.attr
    if isinstance(node, ast.Name) and node.id == "request_queue_size" \
            and isinstance(node.ctx, ast.Store):
        return "request_queue_size"
    return None


def test_listener_plumbing_lives_only_in_the_endpoint_base():
    pkg = pathlib.Path(ticdc_spark.__file__).parent
    exempt = {pkg / "endpoint.py", pkg / "codec" / "tlsutil.py"}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path in exempt:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            what = _plumbing(node)
            if what is not None:
                found.append(f"{path.relative_to(pkg)}:{node.lineno}: {what}")
    assert not found, "listener plumbing outside endpoint.py:\n" + "\n".join(found)
