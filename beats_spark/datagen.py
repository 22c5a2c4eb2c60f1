"""Deterministic synthetic tokenized-log table (FIXTURES.md §1).

Matches the north-rule input_hint shape ``(doc_id:string,
tokens:array<int32>, n_tok:int32, source:string)`` plus a rendered,
dissect-parseable ``message`` line, event time, and harvester-style
lineage ``(part_id, offset)``. Generated entirely with column
expressions over ``spark.range`` — no driver-side loops, no RNG state:
the table for any ``n_rows`` is a pure function of the row id, so tests
and benchmarks are reproducible at every scale and the same generator
runs unchanged on a 1000-executor cluster.

The ``source`` distribution is skewed (one hot source ≈ 60% of rows) to
exercise salting/AQE — the Beats analogue of one file producing most
events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.session import local_frame

LEVELS = ["info", "warn", "error", "debug"]
PHRASES = [
    "Starting OK",
    "user login ok",
    "db timeout on login",
    "disk almost full",
    "connection reset by peer",
    "cache warmed",
    "shutting down",
    "retrying request",
]

TOKENIZER = 'level=%{level} ts=%{timestamp} caller=%{caller} msg="%{msg}"'


def event_exprs(
    i,
    n_sources: int = 10,
    parts_per_source: int = 4,
    hot_fraction: float = 0.6,
    garbage_every: int = 50,
) -> list:
    """The event table as a pure function of a monotonically increasing
    row-id Column ``i`` — shared by the batch generator (``spark.range``)
    and the streaming rate source (``value``)."""
    hot_mod = int(round(hot_fraction * 10))
    source = F.when(
        F.pmod(i, 10) < hot_mod, F.lit("src_hot")
    ).otherwise(F.concat(F.lit("src"), F.pmod(i, F.lit(n_sources)).cast("string")))
    # hash-based selection: linear multipliers make level/phrase
    # correlated mod small powers of two, starving some routing paths.
    level = F.element_at(
        F.array(*[F.lit(l) for l in LEVELS]),
        (F.pmod(F.xxhash64(i, F.lit("level")), len(LEVELS)) + 1).cast("int"),
    )
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in PHRASES]),
        (F.pmod(F.xxhash64(i, F.lit("phrase")), len(PHRASES)) + 1).cast("int"),
    )
    ts = F.timestamp_seconds(F.lit(1767225600) + i * 7)  # 2026-01-01 + 7s/row
    caller = F.concat(
        F.lit("mod"), F.pmod(i, 7).cast("string"), F.lit(".go:"), F.pmod(i * 31, 500).cast("string")
    )
    msg_ok = F.concat(
        F.lit("level="), level,
        F.lit(" ts="), F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(" caller="), caller,
        F.lit(' msg="'), phrase, F.lit('"'),
    )
    if garbage_every:
        message = F.when(F.pmod(i, garbage_every) == 3, F.concat(F.lit("GARBAGE "), phrase)).otherwise(msg_ok)
    else:
        message = msg_ok
    n_tok = (F.pmod(i, 24) + 4).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda x: F.pmod(F.xxhash64(i, x), 50257).cast("int"),
    )
    part_id = F.pmod(i, F.lit(parts_per_source)).cast("int")
    return [
        F.concat(source, F.lit("-"), F.lpad(i.cast("string"), 12, "0")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        message.alias("message"),
        ts.alias("ts"),
        part_id.alias("part_id"),
        i.alias("offset"),
    ]


def generate_events(
    spark: SparkSession,
    n_rows: int,
    n_sources: int = 10,
    parts_per_source: int = 4,
    hot_fraction: float = 0.6,
    garbage_every: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """Build the synthetic input table. ``garbage_every``: every Nth row
    gets an unparseable message (exercises the parse-failure/dead-letter
    path); 0 disables."""
    df = spark.range(0, n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return df.select(
        *event_exprs(F.col("id"), n_sources, parts_per_source, hot_fraction, garbage_every)
    )


def host_dim(spark: SparkSession, n_sources: int = 10) -> DataFrame:
    """Small enrichment dim (FIXTURES.md §2) — always broadcast.

    Built by :func:`local_frame`, so it plans as a JVM ``LocalTableScan``:
    a plan that broadcasts it stays all-JVM, with no Python worker tasks
    to unpickle its rows on every execution (Beats' ``add_host_metadata``
    likewise builds its cache once and reuses it)."""
    rows = [("src_hot", "host-hot", "linux", "prod", "us-east")]
    for s in range(n_sources):
        rows.append(
            (
                f"src{s}",
                f"host-{s}",
                "linux" if s % 2 == 0 else "darwin",
                "prod" if s % 3 else "staging",
                "us-east" if s % 2 == 0 else "eu-west",
            )
        )
    return local_frame(
        spark, rows, "source string, host_name string, host_os string, env string, geo_region string"
    )
