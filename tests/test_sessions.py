"""Gap-based sessionization (beats_spark.sessions)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from beats_spark.sessions import session_agg, sessionize
from tests.conftest import rows

T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _ev(spark):
    data = [
        ("a", 1, T(0)), ("a", 2, T(5)), ("a", 3, T(15)),   # 5s,10s gaps
        ("a", 4, T(40)),                                    # 25s gap → new
        ("b", 5, T(0)), ("b", 6, T(100)),                   # new session
    ]
    return spark.createDataFrame(data, "k string, event_id long, ts timestamp_ntz")


def test_sessionize_assigns_ordinals(spark):
    out = rows(sessionize(_ev(spark), ["k"], gap="10 seconds",
                          order_col="event_id"),
               "k", "event_id", "session_no")
    assert out == [
        ("a", 1, 0), ("a", 2, 0), ("a", 3, 0),  # 10s gap merges (== gap)
        ("a", 4, 1),
        ("b", 5, 0), ("b", 6, 1),
    ]


def test_session_agg_matches_sessionize(spark):
    """The native session_window aggregate groups exactly the sessions
    the lag/cumsum assignment produces."""
    ev = _ev(spark)
    agg = rows(session_agg(ev, ["k"], gap="10 seconds"),
               "k", "session_start", "session_end", "n_events")
    via = rows(
        sessionize(ev, ["k"], gap="10 seconds", order_col="event_id")
        .groupBy("k", "session_no")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
             F.count(F.lit(1)).alias("n")),
        "k", "s", "e", "n",
    )
    assert agg == via
    assert ("a", T(0), T(15), 3) in agg


def test_session_agg_streaming_matches_batch(spark, tmp_path):
    """The same session_window expression runs STATEFUL in Structured
    Streaming: with a watermark past all data and availableNow, the
    complete session set must equal the batch aggregate (state merges
    sessions across micro-batches)."""
    ev = _ev(spark)
    src = str(tmp_path / "ev")
    # one file per micro-batch, split mid-session for key 'a'
    ev.filter("event_id <= 2").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id > 2").coalesce(1).write.mode("append").parquet(src)

    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the
    # cast is value-preserving on both sides
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 second")
    )
    agg = (
        stream.groupBy(F.session_window("ts", "10 seconds").alias("_sw"), "k")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sw")
    )
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    want = set(rows(
        session_agg(ev.withColumn("ts", F.col("ts").cast("timestamp")),
                    ["k"], gap="10 seconds"),
        "k", "session_start", "session_end", "n_events"))
    got = set(rows(spark.read.parquet(out),
                   "k", "session_start", "session_end", "n_events"))
    # append mode emits only watermark-closed sessions; nothing may be
    # wrong, and the split-across-batches session for key 'a' must have
    # merged rather than emitting two fragments
    assert got <= want
    assert ("a", T(0), T(15), 3) in got
