"""Socket transport for Arrow IPC streams (SURVEY §2.1 EchoServer row;
reference java/tools/src/main/java/org/apache/arrow/tools/EchoServer.java).

The reference's EchoServer accepts a TCP connection, reads one Arrow
record-batch stream, and writes the identical stream back — the
wire-level plumbing its integration harness uses to prove stream framing
over sockets.  This module provides:

- ``EchoServer`` — the same protocol, threaded, one echo per connection;
- ``echo_roundtrip`` — the client side: ship a table (or Spark
  DataFrame), read the echo back;
- ``read_stream_socket`` — receive one stream from any socket peer into
  a Spark DataFrame.

Sockets are a driver-side, single-stream endpoint (as in the reference —
EchoServer is a test/integration tool, not a data-plane transport).  The
scale path for streams remains the IPC shard directory + file-drop source
(io.ipc, streaming.sources): executors pull shards from shared storage in
parallel, which a single TCP pipe cannot do.
"""

from __future__ import annotations

import socket
import socketserver
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


class _EchoHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        rfile = self.request.makefile("rb")
        with pa.ipc.open_stream(rfile) as reader:
            batches = list(reader)
            schema = reader.schema
        # counted before the echo goes out: a client that has read the
        # whole echo must already see its batches in ``batches_echoed``
        with self.server.echoed_lock:  # type: ignore[attr-defined]
            self.server.echoed += len(batches)  # type: ignore[attr-defined]
        wfile = self.request.makefile("wb")
        with pa.ipc.new_stream(wfile, schema) as writer:
            for b in batches:
                writer.write_batch(b)
        wfile.flush()


class EchoServer:
    """Threaded Arrow-stream echo server (EchoServer.java parity).

    Usage::

        with EchoServer() as srv:
            table_back = echo_roundtrip(table, srv.host, srv.port)
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._server = socketserver.ThreadingTCPServer((host, port), _EchoHandler)
        self._server.daemon_threads = True
        self._server.echoed = 0  # type: ignore[attr-defined]
        self._server.echoed_lock = threading.Lock()  # type: ignore[attr-defined]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def host(self) -> str:
        return self._server.server_address[0]

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    @property
    def batches_echoed(self) -> int:
        return self._server.echoed  # type: ignore[attr-defined]

    def __enter__(self) -> "EchoServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()


def _write_stream_to_socket(sock: socket.socket, table: pa.Table) -> None:
    wfile = sock.makefile("wb")
    with pa.ipc.new_stream(wfile, table.schema) as writer:
        for batch in table.to_batches():
            writer.write_batch(batch)
    wfile.flush()
    sock.shutdown(socket.SHUT_WR)  # half-close: EOS for the reader


def echo_roundtrip(data, host: str, port: int) -> pa.Table:
    """Send a pyarrow Table / Spark DataFrame through an echo server and
    return the echoed stream as a Table."""
    if isinstance(data, DataFrame):
        data = data.toArrow()
    with socket.create_connection((host, port)) as sock:
        _write_stream_to_socket(sock, data)
        rfile = sock.makefile("rb")
        with pa.ipc.open_stream(rfile) as reader:
            return reader.read_all()


def read_stream_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Connect to a peer that speaks the echo protocol's write half (one
    Arrow stream, then EOF) and land it as a Spark DataFrame through the
    engine's type mapping."""
    from apache_arrow_spark.io.pandas_bridge import from_arrow

    with socket.create_connection((host, port)) as sock:
        rfile = sock.makefile("rb")
        with pa.ipc.open_stream(rfile) as reader:
            table = reader.read_all()
    return from_arrow(spark, table)


def serve_table_once(table: pa.Table, host: str = "127.0.0.1", port: int = 0) -> tuple[str, int]:
    """One-shot stream source: accept a single connection and write
    ``table`` as an Arrow stream (the peer for ``read_stream_socket``).
    Returns (host, port) immediately; serving happens on a daemon thread."""
    lsock = socket.create_server((host, port))
    addr = lsock.getsockname()

    def _serve() -> None:
        with lsock:
            conn, _ = lsock.accept()
            with conn:
                _write_stream_to_socket(conn, table)

    threading.Thread(target=_serve, daemon=True).start()
    return addr[0], addr[1]
