"""The batch token bucket as a keyed Arrow forward pass
(beats_spark.token_bucket.token_bucket over keyed.keyed_pass).

Checked against a per-group reference that sorts each key's active rows
in Python and runs ``_run_bucket`` once per key, with Arrow batches so
small that keys span batches."""

from __future__ import annotations

import datetime as dt
import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from beats_spark.token_bucket import _run_bucket, parse_limit, token_bucket

from tests.conftest import rows

T0 = dt.datetime(2024, 1, 1)
NULL_US = float(np.iinfo(np.int64).min)  # a null ts refills nothing


def _us(ts: dt.datetime | None) -> float:
    return NULL_US if ts is None else float((ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))


def _reference(data, limit, fields, masked, burst=1.0) -> list[int]:
    """Kept offsets: every inactive row (mask not true), plus what a
    fresh full bucket per key admits of its active rows in (ts, offset)
    order, nulls last."""
    n, period = parse_limit(limit)
    rate, depth = n / (period * 1e6), n * burst
    keep = [o for _, _, o, on in data if masked and on is not True]
    groups: dict = {}
    for r in data:
        if not masked or r[3] is True:
            groups.setdefault(r[0] if fields else None, []).append(r)
    for g in groups.values():
        g.sort(key=lambda r: (r[1] is None, r[1] or T0, r[2]))
        t = np.array([_us(r[1]) for r in g])
        allowed, _, _ = _run_bucket(t, depth, float(t[0]), rate, depth)
        keep += [r[2] for r, a in zip(g, allowed) if a]
    return sorted(keep)


def _random_events(seed: int) -> list[tuple]:
    """(key, ts, offset, on): null keys, ts ties (whole minutes), null
    ts, a mask with nulls; offsets unique, row order shuffled."""
    rnd = random.Random(seed)
    out = []
    for key in ["a", "b", None, "c"]:
        for _ in range(rnd.randint(1, 50)):
            ts = None if rnd.random() < 0.1 else T0 + dt.timedelta(minutes=rnd.randint(0, 90))
            out.append((key, ts, rnd.choice([True, True, False, None])))
    rnd.shuffle(out)
    return [(k, ts, i, on) for i, (k, ts, on) in enumerate(out)]


@pytest.mark.parametrize("batch_rows,seed", [(1, 81), (3, 82), (37, 83)])
def test_token_bucket_equals_per_group_reference(spark, batch_rows, seed):
    data = _random_events(seed)
    ev = spark.createDataFrame(data, "key string, ts timestamp_ntz, offset long, on boolean")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    try:
        for fields in (["key"], []):
            for masked in (False, True):
                out = token_bucket(ev, "3/h", fields, burst_multiplier=1.5,
                                   active=F.col("on") if masked else None)
                got = sorted(r.offset for r in out.collect())
                assert got == _reference(data, "3/h", fields, masked, 1.5), (fields, masked)
                assert out.columns == ev.columns
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _pinned_events(spark):
    """ts = 20·offset s, except offset 3's ts is null."""
    data = [(None if i == 3 else T0 + dt.timedelta(seconds=20 * i), i) for i in range(8)]
    return spark.createDataFrame(data, "ts timestamp_ntz, offset long")


def test_token_bucket_null_ts_sorts_last(spark):
    ev = _pinned_events(spark)
    assert rows(token_bucket(ev, "1/m", []), "offset") == [(0,), (4,), (7,)]


def test_token_bucket_inactive_rows_pass_through(spark):
    ev = _pinned_events(spark)
    got = rows(token_bucket(ev, "1/m", [], active=F.col("offset") > 4), "offset")
    assert got == [(i,) for i in range(6)]


def test_token_bucket_plan_is_one_arrow_pass(spark):
    """One Exchange (the key shuffle) and one MapInArrow; no pandas
    group pass."""
    ev = _pinned_events(spark).withColumn("key", F.col("offset") % 2)
    plan = token_bucket(ev, "1/m", ["key"])._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", plan, re.M)
    assert nodes.count("MapInArrow") == 1
    assert not [n for n in nodes if n.startswith("FlatMapGroupsIn")]
    assert nodes.count("Exchange") == 1
