"""Unix-domain-socket input (the reference's ``filebeat/input/unix/
input.go:1-126`` + ``filebeat/inputsource/unix``) as a Spark 4 Python
Data Source — listen-side, like the UDP source and unlike
``readStream.format("socket")`` which must connect out.

Reference semantics carried over: a socket server at ``path``;
``socket_type`` stream (default, line-framed on ``line_delimiter``,
default ``\\n``) or datagram (one message per datagram, then
line-split); each message becomes one event carrying just the text
(``input.go:99-107`` createEvent). ``max_message_size`` (reference
default 20 MiB) truncates oversize stream messages instead of growing
the frame buffer without bound.

Delivery is the replay buffer of
:class:`beats_spark.streaming.sources.BufferedStreamReader` (within-run
effectively-once, stronger than the reference's fire-and-forget
publish). Scale note as in :mod:`beats_spark.streaming.udp_source`:
one socket path is one driver-side ingest point; the 100 TB path is
kafka with relays in front.
"""

from __future__ import annotations

import itertools
import os
import socket
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource

from beats_spark.streaming.sources import BufferedStreamReader

SCHEMA = "value string, conn long, recv_seq long"


class UnixLineDataSource(DataSource):
    """``spark.readStream.format("unix_lines")`` — options: ``path``
    (socket file, required), ``socketType`` (``stream`` | ``datagram``),
    ``lineDelimiter`` (default ``\\n``), ``maxMessageSize`` (bytes,
    default 20 MiB), ``maxBatchSize`` (rows/microbatch, default 10000)."""

    @classmethod
    def name(cls) -> str:
        return "unix_lines"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema):  # noqa: N802 (API name)
        return _UnixSimpleReader(self.options)


class _UnixSimpleReader(BufferedStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.path = options["path"]
        self.socket_type = options.get("socketType", "stream")
        if self.socket_type not in ("stream", "datagram"):
            raise ValueError(
                f"socketType must be stream|datagram, got {self.socket_type!r}"
            )
        self.delim = options.get("lineDelimiter", "\n")
        self.max_message = int(options.get("maxMessageSize", 20 * 1024 * 1024))

    def _start(self) -> socket.socket:
        if os.path.exists(self.path):
            os.unlink(self.path)
        kind = (socket.SOCK_STREAM if self.socket_type == "stream"
                else socket.SOCK_DGRAM)
        sock = socket.socket(socket.AF_UNIX, kind)
        sock.bind(self.path)
        if self.socket_type == "stream":
            sock.listen(16)
            target = self._accept_loop
        else:
            target = self._datagram_loop
        threading.Thread(target=target, args=(sock,), daemon=True,
                         name=f"unix-lines-{self.path}").start()
        return sock

    def _accept_loop(self, sock: socket.socket) -> None:
        for cid in itertools.count(1):
            try:
                c, _ = sock.accept()
            except OSError:  # socket closed at shutdown
                return
            threading.Thread(target=self._conn_loop, args=(c, cid),
                             daemon=True).start()

    def _conn_loop(self, c: socket.socket, cid: int) -> None:
        """Per-connection line framing: buffer partial tail until the
        delimiter arrives; flush the (possibly delimiter-less) tail on
        close, the reference line reader's EOF behavior."""
        tail = b""
        discarding = False  # oversize line: truncated head emitted,
        # rest of the SAME logical line dropped until the next
        # delimiter (the reference line reader's behavior — never a
        # second, spurious event from the line's remainder).
        d = self.delim.encode()
        with c:
            while True:
                try:
                    data = c.recv(65536)
                except OSError:
                    break
                if not data:
                    break
                tail += data
                *complete, tail = tail.split(d)
                if discarding:
                    if complete:
                        # first completed chunk is the remainder of
                        # the truncated line — drop it, resume.
                        complete = complete[1:]
                        discarding = False
                    else:
                        # still inside the oversize line: drop the
                        # bytes, but KEEP the last len(delim)-1 so a
                        # multi-byte delimiter severed across recv
                        # boundaries can still complete — clearing the
                        # whole tail would swallow the next real line.
                        tail = tail[len(tail) - (len(d) - 1):] if len(d) > 1 else b""
                if len(tail) > self.max_message:  # truncate, don't grow
                    complete.append(tail[: self.max_message])
                    tail = b""
                    discarding = True
                for msg in complete:
                    if msg:
                        # cap applies to complete lines too: an
                        # oversize line whose delimiter arrived in the
                        # same recv is truncated like a buffered one
                        # (its remainder is already delimiter-bounded).
                        self._push(
                            msg[: self.max_message].decode("utf-8", errors="replace"),
                            cid,
                        )
        if tail and not discarding:
            self._push(tail.decode("utf-8", errors="replace"), cid)

    def _datagram_loop(self, sock: socket.socket) -> None:
        while True:
            try:
                data = sock.recv(65535)
            except OSError:
                return
            for line in data.decode("utf-8", errors="replace").split(self.delim):
                if line:
                    self._push(line, 0)


def unix_events(raw: DataFrame, path: str, message_key: str = "message") -> DataFrame:
    """Map the unix_lines frame onto the event schema: ``source`` is
    ``unix://<path>`` (no peer address on AF_UNIX — the reference
    publishes these events with no source field at all,
    ``input.go:99-107``); ``conn`` (accept order) and ``recv_seq``
    (arrival order) are kept as lineage. Split out so the projection is
    testable without a bound socket."""
    return raw.select(
        F.lit(f"unix://{path}").alias("source"),
        F.col("conn").cast("int").alias("part_id"),
        F.lit(None).cast("long").alias("offset"),
        F.current_timestamp().alias("ts"),
        F.col("value").alias(message_key),
        F.col("recv_seq"),
    )


def stream_unix(
    spark: SparkSession,
    path: str,
    socket_type: str = "stream",
    line_delimiter: str = "\n",
    message_key: str = "message",
    max_batch: int = 10_000,
) -> DataFrame:
    """Unix-socket line-stream input: listen at ``path``, one event per
    delimited line, into the same multiline → processor → route chain
    as every other source."""
    spark.dataSource.register(UnixLineDataSource)
    raw = (
        spark.readStream.format("unix_lines")
        .option("path", path)
        .option("socketType", socket_type)
        .option("lineDelimiter", line_delimiter)
        .option("maxBatchSize", max_batch)
        .load()
    )
    return unix_events(raw, path, message_key)
