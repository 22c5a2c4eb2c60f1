"""Seeded inputs, written to parquet during set-up.

Every table is a pure function of a row-id window: the seed picks the
window's start, so two seeds give different rows with the same level,
source and line-kind mix, and one seed always gives the same rows. The
program under test only ever sees the parquet files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: ids of two seeds never overlap for tables up to this many rows. A
#: whole number of days of the event table's 7 s/row clock (and of the
#: access lines' 3 s/row clock), and a multiple of the moduli that pick
#: an event's source, part and garbage lines, so every seed's window
#: starts at midnight in the same phase
WINDOW = 12 * 86400
EPOCH = 1767225600  # 2026-01-01T00:00:00Z
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
PATHS = ["/", "/index.html", "/api/v1/items", "/healthz", "/login", "/static/app.js"]
STATUSES = [200, 200, 200, 301, 404, 403, 500, 503]
AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 "
    "Version/17.1 Mobile/15E148 Safari/604.1",
    "curl/8.4.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]


def first_id(seed: int) -> int:
    return (seed % 4096) * WINDOW


def _ids(spark: SparkSession, seed: int, rows: int) -> DataFrame:
    base = first_id(seed)
    return spark.range(base, base + rows, numPartitions=4)


def _pick(i: Column, tag: str, values: list) -> Column:
    idx = (F.pmod(F.xxhash64(i, F.lit(tag)), len(values)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx)


def events(spark: SparkSession, seed: int, rows: int) -> DataFrame:
    """The package's synthetic event table (``datagen.event_exprs``)
    without the token array, which no workload reads."""
    from beats_spark.datagen import event_exprs

    return _ids(spark, seed, rows).select(*event_exprs(F.col("id"))).drop("tokens")


def access_lines(spark: SparkSession, seed: int, rows: int) -> DataFrame:
    """nginx combined-format lines. Per 100 rows: 89 full lines, 1 with
    an impossible date (31 Feb), 7 whose request is ``"-"`` (they fall
    through to the ladder's second pattern) and 3 that match nothing."""
    i = F.col("id")
    ts = F.timestamp_seconds(F.lit(EPOCH) + F.pmod(i, 86400 * 365) * 3)
    kind = F.pmod(F.xxhash64(i, F.lit("kind")), 100)
    ip = F.concat_ws(".", *[F.pmod(F.xxhash64(i, F.lit(f"ip{k}")), 256).cast("string")
                            for k in range(4)])
    day = F.when(kind == 89, F.lit("31/Feb")).otherwise(F.concat(
        F.date_format(ts, "dd/"), F.element_at(F.array(*[F.lit(m) for m in MONTHS]),
                                               F.month(ts))))
    head = F.concat(ip, F.lit(" - - ["), day, F.date_format(ts, "/yyyy:HH:mm:ss"),
                    F.lit(" +0000] "))
    full = F.concat(
        head, F.lit('"GET '), _pick(i, "path", PATHS), F.lit(' HTTP/1.1" '),
        _pick(i, "status", STATUSES).cast("string"), F.lit(" "),
        F.pmod(F.xxhash64(i, F.lit("bytes")), 5000).cast("string"),
        F.lit(' "-" "'), _pick(i, "agent", AGENTS), F.lit('"'))
    message = (F.when(kind < 90, full)
               .when(kind < 97, F.concat(head, F.lit('"-" 400 0')))
               .otherwise(F.concat(F.lit("garbage line "), i.cast("string"))))
    return _ids(spark, seed, rows).select(i.alias("offset"), message.alias("message"))


def stack_lines(spark: SparkSession, seed: int, rows: int) -> DataFrame:
    """Raw lines of the event table's ``(source, part_id)`` streams: one
    in four starts an event (``ERR ...``), the rest are indented stack
    frames that continue it."""
    i = F.col("offset")
    start = F.pmod(F.xxhash64(i, F.lit("ml")), 4) == 0
    message = F.when(start, F.concat(F.lit("ERR request "), i.cast("string"))).otherwise(
        F.concat(F.lit("  at frame "), F.pmod(i, 97).cast("string")))
    return events(spark, seed, rows).select(
        "source", "part_id", "offset", message.alias("message"))
