"""Streaming sources producing the engine's event schema.

The reference's inputs (``filebeat/input/*``: log tail, tcp, kafka,
...) are all "rows arriving over time". Structured Streaming gives us
the same pluggability for free: any ``readStream`` source whose rows
can be mapped to the event schema slots into the pipeline unchanged.
Provided here:

- ``stream_events``  — rate source → deterministic synthetic events
  (identical rows to ``datagen.generate_events``, keyed off the rate
  source's monotonically increasing ``value``).
- ``stream_parquet_dir`` — file-arrival source over an events
  directory (the "log directory being written to" analogue; new files
  = new harvester work).
- ``BufferedStreamReader`` — the replay buffer behind every
  listen-side Python Data Source (``udp_source``, ``unix_source``,
  ``http_source``).
"""

from __future__ import annotations

import threading
from collections import deque
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import SimpleDataSourceStreamReader

from beats_spark.datagen import event_exprs


class BufferedStreamReader(SimpleDataSourceStreamReader):
    """The offset/replay/commit protocol of the listen-side inputs.

    Each received row waits in a driver-side buffer until Spark commits
    an offset at or past it. A listener thread hands rows to
    ``_push(*values)``, which appends the next monotone ``recv_seq``
    (every listen-side schema ends in ``recv_seq long``). Offsets are
    ``{"seq": n}``: ``read`` serves at most ``maxBatchSize`` rows past
    ``start``, ``readBetweenOffsets`` replays any uncommitted range, and
    ``commit`` drops the rows at or below its offset. A failed batch
    therefore replays from the buffer (within-run effectively-once);
    rows received while the query is down are lost, as in the
    reference's socket inputs.

    A subclass parses its options into public attributes and implements
    ``_start()``: bind, start the listener thread(s) and return the
    live socket or server, which the base keeps in ``_sock``. ``_start``
    runs once, on the first ``read`` and never at construction: Spark
    instantiates the reader for plan resolution and again for the
    running stream, and only the running one may own the port or path.

    Pickling: Spark ships the reader to executors as the replay
    fallback. A pickled copy carries the public (option) attributes
    only; it starts empty and unbound, and Spark only replays through
    it, which never binds. Normal batches come from the driver's
    prefetch cache.
    """

    def __init__(self, options) -> None:
        self.max_batch = int(options.get("maxBatchSize", 10_000) or 10_000)
        self._reset()

    def _reset(self) -> None:
        self._buf: deque[tuple] = deque()  # schema-ordered, recv_seq last
        self._seq = 0
        self._lock = threading.Lock()
        self._sock = None

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if not k.startswith("_")}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._reset()

    def _start(self):
        raise NotImplementedError

    def _ensure_bound(self) -> None:
        if self._sock is None:
            self._sock = self._start()

    def _push(self, *values) -> None:
        with self._lock:
            self._seq += 1
            self._buf.append((*values, self._seq))

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"seq": 0}

    def read(self, start: dict):
        self._ensure_bound()
        s = start["seq"]
        with self._lock:
            rows = list(islice((r for r in self._buf if r[-1] > s), self.max_batch))
        return iter(rows), {"seq": rows[-1][-1] if rows else s}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        with self._lock:
            return iter(
                [r for r in self._buf if start["seq"] < r[-1] <= end["seq"]]
            )

    def commit(self, end: dict) -> None:
        with self._lock:
            while self._buf and self._buf[0][-1] <= end["seq"]:
                self._buf.popleft()


def stream_events(
    spark: SparkSession,
    rows_per_second: int = 10_000,
    n_sources: int = 10,
    parts_per_source: int = 4,
    hot_fraction: float = 0.6,
    garbage_every: int = 50,
) -> DataFrame:
    """Unbounded event stream; row ``i`` is byte-identical to batch row
    ``i`` from ``generate_events`` (same pure-function construction)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            *event_exprs(
                F.col("value"), n_sources, parts_per_source, hot_fraction, garbage_every
            )
        )
    )


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over parquet events (new files are picked up
    per trigger — the scan-frequency/harvester-spawn analogue of
    ``filebeat/input/log/input.go:204,454``)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    message_schema=None,
    message_key: str = "message",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka input shape (``filebeat/input/kafka/input.go``): a
    ``readStream.format("kafka")`` whose value decodes into the event
    schema. Code-complete and plan-buildable; EXECUTING it needs a
    reachable broker plus the spark-sql-kafka package, neither present
    in this sandbox (documented non-goal — the returned stream slots
    into ``StreamingLogPipeline.start`` unchanged on a real cluster).

    With ``message_schema`` the JSON value parses into typed columns;
    without it the raw value lands as the ``message`` string column
    (the reference's default: one event per kafka message) plus kafka
    lineage columns (topic → source, partition → part_id,
    offset → offset) mapping straight onto the harvester identity.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return kafka_events(reader.load(), message_schema, message_key)


def kafka_events(raw: DataFrame, message_schema=None,
                 message_key: str = "message") -> DataFrame:
    """Map a kafka-shaped frame (topic/partition/offset/timestamp/value)
    onto the event schema — the lineage mapping is exactly the
    harvester identity: topic → source, partition → part_id,
    offset → offset. Split out from :func:`stream_kafka` so the
    projection is testable without a broker."""
    base = raw.select(
        F.col("topic").alias("source"),
        F.col("partition").alias("part_id"),
        F.col("offset"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("string").alias(message_key),
    )
    if message_schema is not None:
        return base.withColumn(
            "_parsed", F.from_json(F.col(message_key), message_schema)
        ).select("source", "part_id", "offset", "ts", "_parsed.*")
    return base


def socket_events(raw: DataFrame, host: str, port: int,
                  message_key: str = "message") -> DataFrame:
    """Map a socket-shaped frame (``value`` [, ``timestamp``]) onto the
    event schema. Lineage mirrors the reference's tcp/udp inputs
    (``filebeat/input/tcp/input.go:1-142``, ``udp/input.go:1-122``):
    each line is one event, ``source`` = the peer address
    (``log.source.address``), and — exactly like the reference, whose
    socket inputs keep NO registrar state — there is no replayable
    offset (``offset`` is null; delivery on restart re-reads the live
    stream, not history). Split out from :func:`stream_socket` so the
    projection is testable without a live socket."""
    ts = (
        F.col("timestamp") if "timestamp" in raw.columns else F.current_timestamp()
    )
    return raw.select(
        F.lit(f"tcp://{host}:{port}").alias("source"),
        F.lit(0).alias("part_id"),
        F.lit(None).cast("long").alias("offset"),
        ts.alias("ts"),
        F.col("value").alias(message_key),
    )


def stream_socket(
    spark: SparkSession,
    host: str = "localhost",
    port: int = 9999,
    message_key: str = "message",
) -> DataFrame:
    """TCP line-stream input (the reference's tcp/udp/syslog-listener
    family) on ``readStream.format("socket")``: newline-delimited text,
    one event per line, straight into the same line → multiline →
    processor → route chain as every other source.

    Direction note: Spark's socket source CONNECTS to ``host:port``
    (the test/dev harness runs the listener); the reference's inputs
    LISTEN. The event semantics — line framing, per-event source
    address, no offset state — are identical, and a production
    deployment fronts either with the same load-balancer-to-port
    topology. For true listen-side ingestion at scale the kafka source
    (``stream_kafka``) is the recommended path; a socket hop is not a
    100 TB ingest plan in either system."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .option("includeTimestamp", "true")
        .load()
    )
    return socket_events(raw, host, port, message_key)


def redis_slowlog_events(raw: DataFrame, message_key: str = "message") -> DataFrame:
    """Map parsed Redis SLOWLOG GET reply rows onto the event schema —
    the reference's redis input (``filebeat/input/redis/harvester.go:
    43-156``): one event per slowlog entry, ``message`` = cmd + key +
    args joined with spaces, the entry kept structured under
    ``redis_slowlog_*`` (id, cmd, key, duration.us), entry timestamp
    (seconds) as event time. ``source`` is the polled instance address
    (``host:port``, one per harvester).

    Expected raw frame: ``(host string, id long, entry_ts long,
    duration_us long, cmd string, key string, args array<string>)``.
    The SLOWLOG poll itself is live broker I/O (no redis in-sandbox) —
    this projection is the tested half, the poll loop is an edge
    relay's job (same execute-gate as the kafka/redis sinks)."""
    joined = F.concat_ws(
        " ", F.col("cmd"), F.col("key"),
        F.array_join(F.coalesce(F.col("args"), F.array()), " "),
    )
    return raw.select(
        F.concat(F.lit("redis://"), F.col("host")).alias("source"),
        F.lit(0).alias("part_id"),
        F.col("id").alias("offset"),
        F.timestamp_seconds("entry_ts").alias("ts"),
        F.trim(joined).alias(message_key),
        F.col("id").alias("redis_slowlog_id"),
        F.col("cmd").alias("redis_slowlog_cmd"),
        F.col("key").alias("redis_slowlog_key"),
        F.col("duration_us").alias("redis_slowlog_duration_us"),
    )


def mqtt_events(raw: DataFrame, message_key: str = "message") -> DataFrame:
    """Map an MQTT message frame onto the event schema — the
    reference's mqtt input (``filebeat/input/mqtt/input.go:108-131``):
    ``message`` = payload text, the transport metadata kept as
    ``mqtt_*`` (topic, message_id, qos, retained, duplicate), topic as
    ``source`` (the kafka topic→source convention). MQTT message ids
    recycle per-connection, so ``offset`` is null (no replayable
    position — same as the reference, which keeps no cursor state).

    Expected raw frame: ``(topic string, payload string|binary,
    message_id long, qos int, retained boolean, duplicate boolean
    [, timestamp])``. Broker subscribe loop is execute-gated
    in-sandbox, as above."""
    ts = (
        F.col("timestamp") if "timestamp" in raw.columns
        else F.current_timestamp()
    )
    return raw.select(
        F.concat(F.lit("mqtt://"), F.col("topic")).alias("source"),
        F.lit(0).alias("part_id"),
        F.lit(None).cast("long").alias("offset"),
        ts.alias("ts"),
        F.col("payload").cast("string").alias(message_key),
        F.col("topic").alias("mqtt_topic"),
        F.col("message_id").alias("mqtt_message_id"),
        F.col("qos").alias("mqtt_qos"),
        F.col("retained").alias("mqtt_retained"),
        F.col("duplicate").alias("mqtt_duplicate"),
    )
