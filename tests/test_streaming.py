"""Structured Streaming parity: same operator semantics on unbounded
sources, plus restart/exactly-once behavior the batch path can't test.

Mirrors the reference's system tests: ``test_multiline.py`` (merge
across reads), ``test_registrar.py`` (resume without dup/loss),
``test_publisher.py`` (per-sink counts)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.app import LogPipeline
from beats_spark.datagen import TOKENIZER, generate_events, host_dim
from beats_spark.dissect import dissect
from beats_spark.multiline import multiline_pattern
from beats_spark.processors.enrich import LookupJoin
from beats_spark.streaming import StreamingLogPipeline, streaming_multiline_pattern
from beats_spark.streaming.sources import stream_parquet_dir
from tests.conftest import drain, rows

N = 2000


@pytest.fixture()
def pipe(spark):
    dim = host_dim(spark)
    return LogPipeline(
        processors=[
            lambda df: dissect(df, TOKENIZER, target_prefix=""),
            {"drop_event": {}, "when": {"equals": {"level": "debug"}}},
            LookupJoin(dim, on="source", prefix="host_"),
        ],
        routing={
            "indices": [
                {"index": "errors-%{+yyyy.MM.dd}", "when": {"equals": {"level": "error"}}},
                {"index": "logs-%{[host_env]}-%{[level]}"},
            ],
            "default": "dead-letter",
        },
    )


def _write_events(spark, path, n, start=0):
    (
        generate_events(spark, start + n)
        .filter(F.col("offset") >= start)
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def _read_sinks(spark, sink_dir):
    return spark.read.parquet(sink_dir)


def test_stream_fanout_matches_batch(spark, pipe, tmp_path):
    src = str(tmp_path / "in")
    _write_events(spark, src, N)

    s = StreamingLogPipeline(
        pipe, str(tmp_path / "sinks"), str(tmp_path / "cp"),
        counts_dir=str(tmp_path / "counts"),
    )
    q = s.start(stream_parquet_dir(spark, src))
    assert q.awaitTermination(120)

    got = _read_sinks(spark, str(tmp_path / "sinks"))
    want = pipe.routed(spark.read.parquet(src))
    assert rows(got, "doc_id", "sink") == rows(want, "doc_id", "sink")

    # per-sink ack counts (the publisher counter set) recorded per batch
    counts = spark.read.parquet(str(tmp_path / "counts"))
    got_counts = {
        r["sink"]: r["total"]
        for r in counts.groupBy("sink").agg(F.sum("events_acked").alias("total")).collect()
    }
    want_counts = {r["sink"]: r["count"] for r in want.groupBy("sink").count().collect()}
    assert got_counts == want_counts

    # token-array invariant on every surviving streamed row
    orig = spark.read.parquet(src).select("doc_id", F.col("tokens").alias("t0"))
    diff = got.join(orig, "doc_id").filter(F.col("tokens") != F.col("t0")).count()
    assert diff == 0


def test_stream_restart_no_dup_no_loss(spark, pipe, tmp_path):
    """The registrar test: process, stop, more data arrives, restart with
    the same checkpoint — every event lands exactly once."""
    src = str(tmp_path / "in")
    sinks = str(tmp_path / "sinks")
    cp = str(tmp_path / "cp")
    s = StreamingLogPipeline(pipe, sinks, cp)

    _write_events(spark, src, N)
    assert s.start(stream_parquet_dir(spark, src)).awaitTermination(120)

    _write_events(spark, src, N, start=N)
    assert s.start(stream_parquet_dir(spark, src)).awaitTermination(120)

    got = _read_sinks(spark, sinks)
    assert got.count() == got.select("doc_id").distinct().count()
    want = pipe.routed(spark.read.parquet(src))
    assert rows(got, "doc_id", "sink") == rows(want, "doc_id", "sink")


def test_streaming_multiline_matches_batch(spark, tmp_path):
    """State crosses micro-batch boundaries: maxFilesPerTrigger=1 forces
    one batch per file; events spanning the file boundary must still
    merge (the batch operator is the oracle, modulo each stream's open
    tail event which streaming holds for the timeout flush)."""
    src = str(tmp_path / "lines")
    # WARN lines continue the previous event (match=after on leading space)
    lines = generate_events(spark, 600).select(
        "source",
        "part_id",
        "offset",
        F.when(F.pmod("offset", 3) == 1, F.concat(F.lit("  at frame "), F.col("doc_id")))
        .otherwise(F.concat(F.lit("ERR "), F.col("message")))
        .alias("message"),
    )
    half = lines.filter(F.col("offset") < 300)
    rest = lines.filter(F.col("offset") >= 300)
    half.coalesce(1).write.mode("append").parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    merged = streaming_multiline_pattern(
        stream_parquet_dir(spark, src, max_files_per_trigger=1),
        pattern=r"^\s+at ",
        match="after",
    )
    out_dir = str(tmp_path / "out")
    q = (
        merged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)  # the state timeout keeps the availableNow run alive

    got = spark.read.parquet(out_dir)
    want = multiline_pattern(lines, pattern=r"^\s+at ", match="after")
    # each stream's final open event sits in state until the 5s idle
    # timeout; depending on batch pacing the availableNow run may or may
    # not include the flush batch. Every emitted event must be a correct
    # merge, and at minimum all closed (non-tail) events must be out.
    last = want.groupBy("source", "part_id").agg(F.max("offset").alias("offset"))
    want_closed = want.join(last, ["source", "part_id", "offset"], "left_anti")
    cols = ("source", "part_id", "offset", "message", "n_lines")
    got_rows = set(rows(got, *cols))
    assert got_rows <= set(rows(want, *cols))
    assert got_rows >= set(rows(want_closed, *cols))
    # no duplicates from state replays
    assert got.count() == got.select("source", "part_id", "offset").distinct().count()


def test_streaming_multiline_before_spans_batches(spark, tmp_path):
    """match='before' across a micro-batch boundary: whether the previous
    batch's FINAL line matched is part of the state (last_matched), so an
    event whose continuation line is the first row of the next batch must
    keep accumulating, not split (the bug class: shift fill_value=False
    resets the lag at every batch edge)."""
    import pandas as pd

    src = str(tmp_path / "lines")
    # backslash-continuation: offsets 0,1 of each triple end with '\'
    # (match), offset 2 ends the event → events [0,1,2], [3,4,5], ...
    pdf = pd.DataFrame(
        {
            "source": ["s"] * 12,
            "part_id": [0] * 12,
            "offset": list(range(12)),
            "message": [
                f"l{i} \\" if i % 3 != 2 else f"l{i} end" for i in range(12)
            ],
        }
    )
    lines = spark.createDataFrame(pdf)
    # split mid-event: offset 3 (matches) is the last line of file 1, so
    # the event [3,4,5] spans the two micro-batches
    lines.filter(F.col("offset") <= 3).coalesce(1).write.mode("append").parquet(src)
    lines.filter(F.col("offset") > 3).coalesce(1).write.mode("append").parquet(src)

    merged = streaming_multiline_pattern(
        stream_parquet_dir(spark, src, max_files_per_trigger=1),
        pattern=r"\\$",
        match="before",
    )
    out_dir = str(tmp_path / "out")
    q = (
        merged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)  # the state timeout keeps the availableNow run alive

    got = spark.read.parquet(out_dir)
    want = multiline_pattern(
        lines, pattern=r"\\$", match="before",
        partition_cols=("source", "part_id"),
    )
    last = want.groupBy("source", "part_id").agg(F.max("offset").alias("offset"))
    want_closed = want.join(last, ["source", "part_id", "offset"], "left_anti")
    cols = ("source", "part_id", "offset", "message", "n_lines")
    got_rows = set(rows(got, *cols))
    assert got_rows <= set(rows(want, *cols))
    assert got_rows >= set(rows(want_closed, *cols))


def _stream_and_batch_merges(spark, tmp_path, data, **kw):
    """Every stream's events from the streaming operator (two files, so
    two micro-batches) and from both batch merge modes. A final 'START'
    line per stream closes its last real event, so the comparison leaves
    out only that sentinel event, which streaming holds for its timeout.
    The timeout is one the test never reaches, so a slow micro-batch
    cannot flush the sentinel and a streaming row 'START' is a bug."""
    src = str(tmp_path / "lines")
    schema = "source string, part_id int, offset long, message string"
    ends = {}
    for s, p, o, _ in data:
        ends[(s, p)] = max(ends.get((s, p), -1), o)
    data = data + [(s, p, o + 1, "START") for (s, p), o in ends.items()]
    lines = spark.createDataFrame(data, schema)
    half = max(o for *_, o, _ in data) // 2
    lines.filter(F.col("offset") <= half).coalesce(1).write.parquet(src)
    lines.filter(F.col("offset") > half).coalesce(1).write.mode("append").parquet(src)
    q = (
        streaming_multiline_pattern(stream_parquet_dir(spark, src, max_files_per_trigger=1),
                                    timeout_ms=600_000, **kw)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    cols = ("source", "part_id", "offset", "message", "n_lines")
    sentinel = F.col("message") != "START"
    got = rows(spark.read.parquet(str(tmp_path / "out")), *cols)
    return got, [rows(multiline_pattern(lines, merge=m, **kw).filter(sentinel), *cols)
                 for m in ("agg", "stream")]


def test_streaming_multiline_skips_null_lines(spark, tmp_path):
    """A null line inside an event is skipped in the join and counted in
    n_lines by the streaming operator and both batch modes alike."""
    data = [("s", 0, 0, "start"), ("s", 0, 1, None), ("s", 0, 2, "  cont"),
            ("s", 0, 3, "next"), ("s", 0, 4, None), ("t", 0, 0, None), ("t", 0, 1, None)]
    got, (agg, stream) = _stream_and_batch_merges(
        spark, tmp_path, data, pattern=r"^\s+cont", match="after")
    assert got == agg == stream == [
        ("s", 0, 0, "start\n  cont", 3), ("s", 0, 3, "next", 2), ("t", 0, 0, "", 2),
    ]


def test_streaming_multiline_uses_java_regex(spark, tmp_path):
    """Streaming matches with Java rlike, as batch does: Java's \\s is
    ASCII whitespace, so NBSP- and em-space-indented lines start events
    in both (Python's re would continue them)."""
    data = [("s", 0, 0, "ERR a"), ("s", 0, 1, "  at ascii"), ("s", 0, 2, "\xa0at nbsp"),
            ("s", 0, 3, "\u2003at em"), ("s", 0, 4, " at space")]
    got, (agg, stream) = _stream_and_batch_merges(
        spark, tmp_path, data, pattern=r"^\s+at ", match="after")
    assert got == agg == stream == [
        ("s", 0, 0, "ERR a\n  at ascii", 2), ("s", 0, 2, "\xa0at nbsp", 1),
        ("s", 0, 3, "\u2003at em\n at space", 2),
    ]


def test_stream_window_counts(spark, pipe, tmp_path):
    src = str(tmp_path / "in")
    # two files → two batches, so the watermark advances and closes windows
    _write_events(spark, src, N)
    _write_events(spark, src, N, start=N)

    s = StreamingLogPipeline(pipe, str(tmp_path / "sinks"), str(tmp_path / "cp"))
    agg_dir = str(tmp_path / "agg")
    q = s.start_window_counts(
        stream_parquet_dir(spark, src, max_files_per_trigger=1),
        agg_dir,
        str(tmp_path / "cp_agg"),
        window="10 minutes",
        watermark="10 minutes",
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(agg_dir)
    assert got.count() > 0
    # every emitted closed window equals the batch aggregate for it
    # (set comparison — join keys include nullable `level`)
    want = (
        pipe.routed(spark.read.parquet(src))
        .groupBy("sink", "source", "level", F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("events"))
        .select("sink", "source", "level", F.col("w.start").alias("window_start"), "events")
    )
    cols = ("sink", "source", "level", "window_start", "events")
    assert set(rows(got, *cols)) <= set(rows(want, *cols))
    # each window is emitted at most once (append mode finalization)
    assert got.count() == got.select("sink", "source", "level", "window_start").distinct().count()


def test_dedup_stream_drops_replays(spark, tmp_path):
    """At-least-once replay collapses to effectively-once: the same rows
    delivered twice (two files) come out once."""
    from beats_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "in")
    batch = generate_events(spark, 200)
    batch.coalesce(1).write.mode("append").parquet(src)
    batch.coalesce(1).write.mode("append").parquet(src)  # the replay

    out_dir = str(tmp_path / "out")
    q = (
        dedup_stream(stream_parquet_dir(spark, src), keys=["doc_id"])
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() == 200
    assert got.select("doc_id").distinct().count() == 200


def test_kafka_events_projection(spark):
    """kafka input shape (no broker in-sandbox): the value→event
    projection maps kafka lineage onto harvester identity and parses
    JSON values when a schema is given."""
    from beats_spark.streaming.sources import kafka_events

    raw = spark.createDataFrame(
        [("logs", 2, 57, "2026-01-02 03:00:00", 'level=info msg="ok"'),
         ("logs", 2, 58, "2026-01-02 03:00:01", '{"level":"warn","k":9}')],
        "topic string, partition int, offset long, ts_s string, value string",
    ).selectExpr("topic", "partition", "offset",
                 "cast(ts_s as timestamp) as timestamp", "cast(value as binary) as value")

    plain = kafka_events(raw)
    assert plain.columns == ["source", "part_id", "offset", "ts", "message"]
    r = {x["offset"]: x for x in plain.collect()}
    assert r[57]["source"] == "logs" and r[57]["part_id"] == 2
    assert r[57]["message"] == 'level=info msg="ok"'

    typed = kafka_events(raw, message_schema="level string, k int")
    row = {x["offset"]: x for x in typed.collect()}[58]
    assert row["level"] == "warn" and row["k"] == 9


def test_socket_events_projection(spark):
    """Socket frame → event schema without a live socket (the testable
    projection seam, like kafka_events)."""
    from beats_spark.streaming.sources import socket_events

    raw = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 h su: hi", "2026-01-01 00:00:00")],
        "value string, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    r = socket_events(raw, "localhost", 12345).collect()[0]
    assert r["source"] == "tcp://localhost:12345"
    assert r["offset"] is None  # socket inputs keep no registrar state
    assert r["message"].startswith("<34>")


def test_stream_socket_end_to_end(spark, tmp_path):
    """A real local TCP listener streams lines; the socket source runs
    them through condition routing; routed per-sink counts match the
    lines sent."""
    import socket
    import threading

    from beats_spark.routing import add_sink_column
    from beats_spark.streaming.sources import stream_socket

    lines = [f"ERR boom {i}" if i % 5 == 0 else f"INFO ok {i}" for i in range(100)]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(30)  # keep the connection open until the test is done
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    ev = stream_socket(spark, "127.0.0.1", port)
    routing = {
        "indices": [
            {"index": "errors", "when": {"regexp": {"message": "^ERR "}}},
        ],
        "default": "main",
    }
    routed = add_sink_column(ev, routing)
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("sock_routed")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM sock_routed").first()["n"]
            if n >= len(lines):
                break
            time.sleep(0.5)
        got = {
            r["sink"]: r["n"]
            for r in spark.sql(
                "SELECT sink, count(*) AS n FROM sock_routed GROUP BY sink"
            ).collect()
        }
        assert got == {"errors": 20, "main": 80}
    finally:
        stop.set()
        q.stop()
        srv.close()


def test_udp_events_projection(spark):
    """udp_events maps the raw udp_lines frame onto the event schema
    without a bound socket (per-datagram sender becomes source)."""
    from beats_spark.streaming.udp_source import udp_events

    raw = spark.createDataFrame(
        [("ERR boom", "10.0.0.7:514", 1), ("INFO ok", "10.0.0.8:514", 2)],
        "value string, sender string, recv_seq long",
    )
    out = udp_events(raw).collect()
    assert [r["source"] for r in out] == ["udp://10.0.0.7:514",
                                         "udp://10.0.0.8:514"]
    assert [r["message"] for r in out] == ["ERR boom", "INFO ok"]
    assert all(r["offset"] is None for r in out)
    assert [r["recv_seq"] for r in out] == [1, 2]


def test_stream_udp_end_to_end(spark):
    """Real datagrams through the udp_lines Python Data Source: bind a
    port, send line-framed datagrams, route them, check per-sink
    DISTINCT message counts (UDP is at-most-once; the sender re-fires
    the batch until the stream has seen every message)."""
    import socket
    import threading
    import time

    from beats_spark.routing import add_sink_column
    from beats_spark.streaming.udp_source import stream_udp

    # find a free UDP port
    probe = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    lines = [f"ERR boom {i}" if i % 5 == 0 else f"INFO ok {i}"
             for i in range(50)]
    stop = threading.Event()

    def send_until_stopped():
        snd = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        while not stop.is_set():
            for ln in lines:
                snd.sendto((ln + "\n").encode(), ("127.0.0.1", port))
            stop.wait(1.0)
        snd.close()

    ev = stream_udp(spark, port)
    routing = {
        "indices": [
            {"index": "errors", "when": {"regexp": {"message": "^ERR "}}},
        ],
        "default": "main",
    }
    routed = add_sink_column(ev, routing)
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("udp_routed")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    t = threading.Thread(target=send_until_stopped, daemon=True)
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql(
                "SELECT count(DISTINCT message) AS n FROM udp_routed"
            ).first()["n"]
            if n >= len(lines):
                break
            time.sleep(0.5)
        got = {
            r["sink"]: r["n"]
            for r in spark.sql(
                "SELECT sink, count(DISTINCT message) AS n FROM udp_routed "
                "GROUP BY sink"
            ).collect()
        }
        assert got == {"errors": 10, "main": 40}
    finally:
        stop.set()
        q.stop()


def test_unix_events_projection(spark):
    """unix_events maps the raw unix_lines frame onto the event schema
    without a bound socket (AF_UNIX has no peer address: source is the
    socket path, accept order becomes part_id lineage)."""
    from beats_spark.streaming.unix_source import unix_events

    raw = spark.createDataFrame(
        [("ERR boom", 1, 1), ("INFO ok", 2, 2)],
        "value string, conn long, recv_seq long",
    )
    out = unix_events(raw, "/tmp/bs.sock").collect()
    assert all(r["source"] == "unix:///tmp/bs.sock" for r in out)
    assert [r["part_id"] for r in out] == [1, 2]
    assert [r["message"] for r in out] == ["ERR boom", "INFO ok"]
    assert all(r["offset"] is None for r in out)


def test_unix_oversize_line_truncate_then_discard(tmp_path):
    """An oversize line emits ONE truncated event; the rest of that
    logical line — even spread over several sends with no delimiter —
    is discarded until the next delimiter, then framing resumes (the
    reference line reader's behavior). No Spark needed: drives the
    reader's accept/frame loop over a real AF_UNIX socket."""
    import socket as _socket
    import time as _time

    from beats_spark.streaming.unix_source import _UnixSimpleReader

    path = str(tmp_path / "oversize.sock")
    rd = _UnixSimpleReader({"path": path, "maxMessageSize": "10"})
    rd._ensure_bound()
    try:
        c = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        c.connect(path)
        c.sendall(b"0123456789ABCDEF")      # oversize, no delimiter yet
        _time.sleep(0.1)
        c.sendall(b"stillsameline")          # continuation, still no delim
        _time.sleep(0.1)
        c.sendall(b"tail-end\nnext line\n")  # delimiter ends the discard
        _time.sleep(0.3)
        c.close()
        _time.sleep(0.2)
        msgs = [v for v, _, _ in rd._buf]
        assert msgs == ["0123456789", "next line"]
    finally:
        rd._sock.close()


def test_unix_oversize_discard_keeps_severed_delimiter(tmp_path):
    """Discard mode with a multi-byte delimiter split across recv
    boundaries: the '\\r' of '\\r\\n' arrives in one send, the '\\n' in
    the next — the discard logic must keep enough tail bytes to let
    the severed delimiter complete instead of swallowing the next
    legitimate line."""
    import socket as _socket
    import time as _time

    from beats_spark.streaming.unix_source import _UnixSimpleReader

    path = str(tmp_path / "severed.sock")
    rd = _UnixSimpleReader(
        {"path": path, "maxMessageSize": "10", "lineDelimiter": "\r\n"}
    )
    rd._ensure_bound()
    try:
        c = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        c.connect(path)
        c.sendall(b"0123456789ABCDEF")       # oversize, discarding starts
        _time.sleep(0.1)
        c.sendall(b"rest\r")                 # ends mid-delimiter
        _time.sleep(0.1)
        c.sendall(b"\nnext line\r\n")        # completes the delimiter
        _time.sleep(0.3)
        c.close()
        _time.sleep(0.2)
        msgs = [v for v, _, _ in rd._buf]
        assert msgs == ["0123456789", "next line"]
    finally:
        rd._sock.close()


def test_unix_oversize_line_in_single_recv_is_truncated(tmp_path):
    """An oversize line whose delimiter arrives in the SAME recv must
    get the same maxMessageSize cap as one buffered across recvs —
    truncation must not depend on packet boundaries."""
    import socket as _socket
    import time as _time

    from beats_spark.streaming.unix_source import _UnixSimpleReader

    path = str(tmp_path / "onerecv.sock")
    rd = _UnixSimpleReader({"path": path, "maxMessageSize": "10"})
    rd._ensure_bound()
    try:
        c = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        c.connect(path)
        c.sendall(b"0123456789ABCDEF\nnext line\n")  # one packet
        _time.sleep(0.3)
        c.close()
        _time.sleep(0.2)
        msgs = [v for v, _, _ in rd._buf]
        assert msgs == ["0123456789", "next line"]
    finally:
        rd._sock.close()


def test_stream_unix_end_to_end(spark, tmp_path):
    """Real bytes through the unix_lines Python Data Source: listen on
    a socket file, connect twice, send line-framed messages (one split
    mid-line across two sends to exercise the partial-tail framing),
    route them, check exact per-sink message sets (SOCK_STREAM is
    lossless, unlike the UDP test's at-most-once resend loop)."""
    import socket
    import time

    from beats_spark.routing import add_sink_column
    from beats_spark.streaming.unix_source import stream_unix

    path = str(tmp_path / "in.sock")
    ev = stream_unix(spark, path)
    routing = {
        "indices": [
            {"index": "errors", "when": {"regexp": {"message": "^ERR "}}},
        ],
        "default": "main",
    }
    routed = add_sink_column(ev, routing)
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("unix_routed")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while not os.path.exists(path) and time.time() < deadline:
            time.sleep(0.2)
        lines = [f"ERR boom {i}" if i % 5 == 0 else f"INFO ok {i}"
                 for i in range(20)]
        payload = "\n".join(lines) + "\n"
        c1 = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        c1.connect(path)
        # split mid-line across two sends: framing must reassemble
        cut = payload.index("ok 3")
        c1.sendall(payload[:cut].encode())
        time.sleep(0.3)
        c1.sendall(payload[cut:].encode())
        c1.close()
        c2 = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        c2.connect(path)
        c2.sendall(b"ERR second conn\n")
        c2.close()

        deadline = time.time() + 60
        want_total = len(lines) + 1
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM unix_routed").first()["n"]
            if n >= want_total:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "SELECT sink, message, part_id FROM unix_routed"
        ).collect()
        got = {(r["sink"], r["message"]) for r in rows}
        want = {("errors" if ln.startswith("ERR ") else "main", ln)
                for ln in lines} | {("errors", "ERR second conn")}
        assert got == want
        # the two connections carry distinct lineage ids
        assert len({r["part_id"] for r in rows}) == 2
    finally:
        q.stop()


def test_redis_slowlog_events_projection(spark):
    """redis input shape (harvester.go:135-156): message joins
    cmd/key/args; entry id is the offset lineage."""
    from beats_spark.streaming.sources import redis_slowlog_events

    raw = spark.createDataFrame(
        [("10.0.0.5:6379", 7, 1704067200, 12345, "GET", "user:1", ["EX", "30"]),
         ("10.0.0.5:6379", 8, 1704067201, 99, "PING", "", None)],
        "host string, id long, entry_ts long, duration_us long, "
        "cmd string, key string, args array<string>",
    )
    out = {r["offset"]: r for r in redis_slowlog_events(raw).collect()}
    assert out[7]["message"] == "GET user:1 EX 30"
    assert out[7]["source"] == "redis://10.0.0.5:6379"
    assert out[7]["redis_slowlog_duration_us"] == 12345
    assert out[8]["message"] == "PING"
    assert out[8]["ts"].year in (2023, 2024)


def test_mqtt_events_projection(spark):
    """mqtt input shape (input.go:108-131): payload becomes message,
    transport metadata lands under mqtt_*, no replayable offset."""
    from beats_spark.streaming.sources import mqtt_events

    raw = spark.createDataFrame(
        [("sensors/a", "t=21.5", 3, 1, False, False)],
        "topic string, payload string, message_id long, qos int, "
        "retained boolean, duplicate boolean",
    )
    r = mqtt_events(raw).collect()[0]
    assert r["source"] == "mqtt://sensors/a"
    assert r["message"] == "t=21.5"
    assert r["mqtt_qos"] == 1 and r["offset"] is None


def test_corpus_quality_filters_streaming_parity(spark, tmp_path):
    """The corpus quality rules are narrow column expressions, so they
    run UNCHANGED on a streaming frame: stream the documents table
    through quality_filters and the per-batch output must equal the
    batch run row-for-row."""
    from beats_spark.corpus.textstats import quality_filters

    src = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.coalesce(1).write.mode("append").parquet(src)

    schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        quality_filters(stream)
        .select("doc_id", "passes_quality")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["passes_quality"])
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r["doc_id"], r["passes_quality"])
        for r in quality_filters(docs).select("doc_id", "passes_quality").collect()
    )
    assert got == want and len(got) == 500


def test_corpus_ops_on_stream_match_batch(spark, tmp_path):
    """The stateless corpus cleaning projections (PII redaction,
    quality rules, text stats) compose unchanged onto a readStream —
    streaming ingest-time cleaning produces byte-identical rows to the
    batch pass over the same files."""
    from beats_spark.corpus.cleaning import pii_redact
    from beats_spark.corpus.textstats import quality_filters

    src = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact bob@example.com or 10.1.2.3 now"),
        ).alias("text"),
    )
    noisy.coalesce(2).write.mode("append").parquet(src)

    def clean(df):
        red = pii_redact(df)
        return quality_filters(red).select(
            "doc_id", "text", "email_redactions", "ipv4_redactions",
            "n_words", "passes_quality",
        )

    out_dir = str(tmp_path / "out")
    q = (
        clean(stream_parquet_dir(spark, src))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    cols = ("doc_id", "text", "email_redactions", "ipv4_redactions",
            "n_words", "passes_quality")
    got = sorted(rows(spark.read.parquet(out_dir), *cols))
    want = sorted(rows(clean(noisy), *cols))
    assert got == want and len(got) == 500
    # redactions actually happened on the stream
    assert all(r[2] >= 1 and r[3] >= 1 for r in got)


def test_fim_on_stream_matches_batch(spark, tmp_path):
    """fim_transform is a stateless narrow projection (id-hash cuts,
    zero shuffle), so it composes unchanged onto readStream: streaming
    FIM over the same files is byte-identical to the batch pass —
    tokenized training-data ingest needs no separate code path."""
    from beats_spark.corpus.tokens import fim_transform, tokenize_ids

    src = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tokenize_ids(docs).coalesce(2).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out")
    q = (
        fim_transform(stream_parquet_dir(spark, src), rate=0.5)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    cols = ("doc_id", "tokens", "n_tok", "fim_applied")
    got = sorted(rows(spark.read.parquet(out_dir), *cols))
    want = sorted(rows(fim_transform(spark.read.parquet(src), rate=0.5), *cols))
    assert got == want and len(got) == 500
    assert any(r[3] for r in got) and any(not r[3] for r in got)


def test_span_corrupt_on_stream_matches_batch(spark, tmp_path):
    """span_corrupt is the same class of stateless narrow projection
    as fim_transform — streaming over the same files must be
    byte-identical to the batch pass."""
    from beats_spark.corpus.tokens import span_corrupt, tokenize_ids

    src = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tokenize_ids(docs).coalesce(2).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out")
    q = (
        span_corrupt(stream_parquet_dir(spark, src))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    cols = ("doc_id", "inputs", "targets", "n_spans", "corrupted")
    got = sorted(rows(spark.read.parquet(out_dir), *cols))
    want = sorted(rows(span_corrupt(spark.read.parquet(src)), *cols))
    assert got == want and len(got) == 500
    assert any(r[4] for r in got)


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """Streaming exact dedup: the JVM state store carries seen
    fingerprints across micro-batches (maxFilesPerTrigger=1 = one
    batch per file), so a doc repeated in a LATER file drops; each
    distinct normalized text survives exactly once, whitespace/case
    variants collapse onto one fingerprint."""
    from beats_spark.streaming.dedup import stream_dedup_exact

    src = str(tmp_path / "docs")
    first = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta"), (2, "Alpha  Beta")],
        "doc_id long, text string",
    )
    # batch 2: exact dup of 0, normalized dup of 1, one new doc
    second = spark.createDataFrame(
        [(3, "alpha beta"), (4, "  GAMMA DELTA "), (5, "epsilon")],
        "doc_id long, text string",
    )
    first.coalesce(1).write.mode("append").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out")
    q = (
        stream_dedup_exact(stream_parquet_dir(spark, src, max_files_per_trigger=1))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    fps = [r["fp"] for r in got.collect()]
    assert len(set(fps)) == 3
    kept_texts = {r["text"] for r in got.collect()}
    # first-arrival-wins within the normalized-fp key space: doc 5 is
    # the only batch-2 survivor; 0/2 and 1/4 collapse (0,1 or 2 win
    # within batch 1 arbitrarily - both are batch-1 members)
    assert "epsilon" in kept_texts
    assert not {"alpha beta", "Alpha  Beta"} <= kept_texts
    assert "  GAMMA DELTA " not in kept_texts


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """Watermark-bounded regime: dropDuplicatesWithinWatermark plans
    and runs with the fingerprint key + event-time column, suppressing
    the in-horizon duplicate."""
    from beats_spark.streaming.dedup import stream_dedup_exact

    src = str(tmp_path / "docs")
    rows_ = [(0, "2024-01-01 00:00:00", "same text"),
             (1, "2024-01-01 00:00:10", "same text"),
             (2, "2024-01-01 00:00:20", "other text")]
    df = spark.createDataFrame(
        rows_, "doc_id long, ts string, text string"
    ).select("doc_id", F.col("ts").cast("timestamp").alias("ts"), "text")
    df.coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out")
    q = (
        stream_dedup_exact(
            stream_parquet_dir(spark, src), ts_col="ts", within="10 minutes"
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.count() == 2
    assert {r["text"] for r in got.collect()} == {"same text", "other text"}


def test_streaming_snapshot_sink_atomic_batches_no_dup(spark, pipe, tmp_path):
    """Streaming fan-out through the snapshot table: one atomic commit
    per micro-batch; restart with the same checkpoint neither loses
    nor duplicates rows; each commit is a readable time-travel point;
    compaction folds the per-batch dirs without changing rows."""
    from beats_spark.snapshots import SnapshotTable

    src = str(tmp_path / "in")
    cp = str(tmp_path / "cp")
    t = SnapshotTable(str(tmp_path / "table"))
    s = StreamingLogPipeline(pipe, sink_dir="", checkpoint_dir=cp)

    _write_events(spark, src, N)
    assert s.start_snapshot(stream_parquet_dir(spark, src), t).awaitTermination(120)
    first_rows = t.read(spark).count()
    snaps_after_first = t.snapshots()
    assert first_rows > 0 and len(snaps_after_first) >= 1

    # restart: new data arrives; the old batches must not re-commit
    _write_events(spark, src, N, start=N)
    assert s.start_snapshot(stream_parquet_dir(spark, src), t).awaitTermination(120)

    got = t.read(spark)
    want = pipe.routed(spark.read.parquet(src))
    assert got.count() == want.count()
    assert got.select("doc_id").distinct().count() == got.count()
    assert rows(got, "doc_id", "sink") == rows(want, "doc_id", "sink")
    # time travel to the first run's boundary still sees only its rows
    assert t.read(spark, snapshot=snaps_after_first[-1]).count() == first_rows
    # compact and re-verify
    t.compact(spark, commit_id="maint")
    assert t.read(spark).count() == want.count()
    assert t.history()[-1]["n_dirs"] == 1


def test_streaming_ingest_cross_batch_neardup_suppression(spark, tmp_path):
    """Live-ingest dedup: within-batch exact dups collapse keep-min;
    a later batch's exact and near duplicates of already-admitted docs
    are suppressed via the PERSISTED index (no re-signing of the
    existing corpus); fresh docs land; both tables commit per batch."""
    from beats_spark.snapshots import SnapshotTable
    from beats_spark.streaming.ingest import StreamingCorpusIngest

    base_a = " ".join(f"alpha{i}" for i in range(40))
    base_b = " ".join(f"beta{i}" for i in range(40))
    near_a = " ".join(f"alpha{i}" for i in range(39)) + " CHANGED"
    fresh = " ".join(f"gamma{i}" for i in range(40))

    src = str(tmp_path / "in")
    corpus = SnapshotTable(str(tmp_path / "corpus"))
    index = SnapshotTable(str(tmp_path / "index"))
    ing = StreamingCorpusIngest(
        corpus, index, checkpoint_dir=str(tmp_path / "cp"), min_matches=8
    )

    def stream():
        return stream_parquet_dir(spark, src, max_files_per_trigger=1)

    b1 = spark.createDataFrame(
        [(0, base_a), (1, base_b), (2, base_a)],  # 2 = exact dup of 0
        "doc_id long, text string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    assert ing.start(stream()).awaitTermination(120)
    got1 = {r["doc_id"] for r in corpus.read(spark).collect()}
    assert got1 == {0, 1}

    b2 = spark.createDataFrame(
        [(10, base_b),   # exact dup of admitted doc 1
         (11, near_a),   # near-dup of admitted doc 0
         (12, fresh)],
        "doc_id long, text string",
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    assert ing.start(stream()).awaitTermination(120)
    got2 = {r["doc_id"] for r in corpus.read(spark).collect()}
    assert got2 == {0, 1, 12}, got2

    # the index accumulated fp + band rows for every ADMITTED doc only
    idx = index.read(spark)
    assert {r["doc_id"] for r in idx.collect()} == {0, 1, 12}
    assert idx.filter("band = -1").count() == 3          # one fp row each
    assert idx.filter("band >= 0").count() == 3 * 4       # bands per doc

    # restart with no new data: no new batch, nothing re-commits
    snaps = corpus.snapshots()
    assert ing.start(stream()).awaitTermination(120)
    assert corpus.snapshots() == snaps
