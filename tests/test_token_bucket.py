"""Event-time token-bucket rate limiting (beats_spark.token_bucket).

Reference semantics: libbeat/processors/ratelimit/token_bucket.go —
bucket starts full at depth limit×burst, refills continuously, each
event withdraws one token, deny when < 1 token remains. Our clock is
event time (deterministic at any cluster size); see the module
docstring for the substitution rationale.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.token_bucket import (
    parse_limit,
    streaming_token_bucket,
    token_bucket,
)

from tests.conftest import drain, rows

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, spec):
    """spec: list of (key, offset_seconds) → df(key, ts, offset)."""
    data = [
        (k, T0 + dt.timedelta(seconds=s), i)
        for i, (k, s) in enumerate(spec)
    ]
    return spark.createDataFrame(data, "key string, ts timestamp_ntz, offset long")


def test_parse_limit():
    assert parse_limit("100/m") == (100, 60.0)
    assert parse_limit("1/s") == (1, 1.0)
    assert parse_limit("2/h") == (2, 3600.0)
    assert parse_limit(7) == (7, 60.0)


def test_bucket_refill_and_deny(spark):
    # limit 1/s, depth 1: full bucket admits the first event; refill is
    # continuous so an event 0.2 s later finds 0.2 tokens → denied.
    ev = _events(
        spark,
        [("a", 0.0), ("a", 0.2), ("a", 1.2), ("a", 1.3), ("a", 3.0)],
    )
    got = rows(token_bucket(ev, "1/s", ["key"]), "offset")
    assert got == [(0,), (2,), (4,)]


def test_burst_multiplier_deepens_bucket(spark):
    # depth 2: the 0.2s follow-up is admitted out of the burst reserve.
    ev = _events(spark, [("a", 0.0), ("a", 0.2), ("a", 0.4)])
    got = rows(token_bucket(ev, "1/s", ["key"], burst_multiplier=2.0), "offset")
    assert got == [(0,), (1,)]


def test_keys_are_independent(spark):
    ev = _events(
        spark,
        [("a", 0.0), ("b", 0.1), ("a", 0.2), ("b", 0.3), ("b", 5.0)],
    )
    got = rows(token_bucket(ev, "1/s", ["key"]), "key", "offset")
    assert got == [("a", 0), ("b", 1), ("b", 4)]


def test_no_fields_single_global_bucket(spark):
    ev = _events(spark, [("a", 0.0), ("b", 0.2), ("c", 2.0)])
    got = rows(token_bucket(ev, "1/s", []), "offset")
    assert got == [(0,), (2,)]


def test_order_col_breaks_timestamp_ties(spark):
    # two events at the identical timestamp: offset order decides which
    # one drains the bucket.
    ev = _events(spark, [("a", 0.0), ("a", 0.0)])
    got = rows(token_bucket(ev, "1/s", ["key"]), "offset")
    assert got == [(0,)]


def test_rate_limit_processor_token_bucket_algorithm(spark):
    from beats_spark.processors.base import build_processor

    ev = _events(spark, [("a", 0.0), ("a", 0.2), ("a", 1.2)])
    p = build_processor(
        {"rate_limit": {"limit": "1/s", "fields": ["key"],
                        "order_col": "offset", "algorithm": "token_bucket"}}
    )
    assert rows(p(ev), "offset") == [(0,), (2,)]


def test_streaming_matches_batch_across_microbatches(spark, tmp_path):
    """State (tokens, last event time) must survive the micro-batch
    boundary: maxFilesPerTrigger=1 forces one batch per file; the batch
    kernel on the full input is the oracle."""
    spec = [("a", float(s)) for s in range(0, 40)] + [
        ("b", s * 2.5) for s in range(0, 16)
    ]
    spec.sort(key=lambda ks: ks[1])
    ev = _events(spark, spec)
    src = str(tmp_path / "ev")
    # split by event time so batches arrive in time order (streaming's
    # in-order arrival assumption, same as the reference's live tail)
    ev.filter(F.col("offset") < 28).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("offset") >= 28).coalesce(1).write.mode("append").parquet(src)

    limited = streaming_token_bucket(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src),
        "10/m",
        ["key"],
        order_col="offset",
    )
    out = str(tmp_path / "out")
    q = (
        limited.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)  # the state timeout keeps the availableNow run alive

    want = rows(token_bucket(ev, "10/m", ["key"]), "key", "offset")
    got = rows(spark.read.parquet(out), "key", "offset")
    assert got == want
    assert len(got) > 2  # the scenario actually exercises denials


def test_kernel_state_split_property():
    """The invariant the streaming face rests on: running the kernel
    over a stream split at ANY batch boundary, carrying (tokens, last)
    state across, is identical to one continuous run. Pure-numpy
    property test over random event-time sequences and split points —
    no Spark session needed."""
    import numpy as np

    from beats_spark.token_bucket import _run_bucket

    rng = np.random.default_rng(7)
    for trial in range(200):
        n = int(rng.integers(1, 60))
        gaps = rng.exponential(scale=float(rng.uniform(0.1, 3.0)), size=n)
        ts = np.cumsum(gaps) * 1e6  # microseconds
        rate = 1.0 / 1e6            # 1 token/second
        depth = float(rng.uniform(1.0, 5.0))
        split = int(rng.integers(0, n + 1))

        whole, tok_w, last_w = _run_bucket(ts, depth, float(ts[0]) if n else 0.0,
                                           rate, depth)
        a, tok, last = _run_bucket(ts[:split], depth,
                                   float(ts[0]) if split else 0.0, rate, depth)
        if split == 0:
            # no state yet: the second half starts a fresh full bucket
            tok, last = depth, float(ts[0])
        b, tok_b, last_b = _run_bucket(ts[split:], tok, last, rate, depth)
        assert np.array_equal(np.concatenate([a, b]), whole), (trial, split)
        assert (tok_b, last_b) == (tok_w, last_w)


def test_kernel_late_event_never_unrefills():
    """A late event (ts earlier than the carried last_us — possible
    only across streaming micro-batches) must only withdraw: the
    replenish delta clamps at 0 and last_us stays monotone, so one
    straggler can never drive tokens negative or rewind the clock and
    deny in-order events beyond the configured rate."""
    import numpy as np

    from beats_spark.token_bucket import _run_bucket

    rate = 1.0 / 1e6  # 1 token/second
    depth = 2.0
    # batch 1 ends with last_us = 10 s, bucket at 1.0 tokens
    _, tok, last = _run_bucket(np.array([9e6, 10e6]), depth, 9e6, rate, depth)
    assert last == 10e6
    # batch 2 leads with a 7 s straggler, then an in-order 11 s event
    allowed, tok2, last2 = _run_bucket(np.array([7e6, 11e6]), tok, last,
                                       rate, depth)
    assert last2 == 11e6          # clock never rewound
    assert tok2 >= 0.0            # never negative
    assert bool(allowed[1])       # in-order event still admitted
    # many stragglers deny only themselves once tokens run dry
    lots = np.full(10, 5e6)
    allowed3, tok3, last3 = _run_bucket(lots, 1.5, 10e6, rate, depth)
    assert last3 == 10e6 and tok3 >= 0.0
    assert int(allowed3.sum()) == 1  # 1.5 tokens → one withdrawal fits
