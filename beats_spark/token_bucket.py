"""Event-time token-bucket rate limiting (batch + streaming kernels).

The reference's rate_limit processor is a per-key token bucket
(``libbeat/processors/ratelimit/token_bucket.go:38-152``): a bucket of
depth ``limit × burst_multiplier`` starts full, refills continuously at
the configured rate, each event withdraws one token, and an event is
dropped when less than one token remains. Full buckets are garbage-
collected (``token_bucket.go:155-190``).

The batch processor (`processors/actions.RateLimit`) keeps the windowed
top-k REDEFINITION because wall-clock refill has no batch equivalent.
This module is the faithful semantics with one substitution: the clock
is EVENT TIME, not wall time — deterministic, replayable, and identical
on a cluster of any size, which is what a 100 TB backfill needs (the
reference's wall clock would make results depend on read speed).

Both faces share one kernel:

- ``token_bucket(df, ...)`` — batch: ``applyInPandas`` per key group,
  rows processed in (ts, order_col) order.
- ``streaming_token_bucket(df, ...)`` — Structured Streaming:
  ``applyInPandasWithState`` carrying (tokens, last_ms) across
  micro-batches; state times out after the bucket would have refilled
  completely (``depth/rate``), so dropping it is EXACTLY the
  reference's delete-full-buckets GC.

All arithmetic is in double-precision MICROseconds (the parquet
timestamp's native precision — exact as float64 up to year ~2255) with
the same operation order as the DuckDB oracle (``epoch_us`` +
``WITH RECURSIVE``), so allow/deny decisions are bit-identical.

The per-key loop is sequential BY DEFINITION (each decision depends on
the previous one); it is Arrow-batched per group and parallel across
keys, which is the only axis a token bucket can scale on.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_limit(limit: str | int) -> tuple[int, float]:
    """``"100/m"`` → (100, 60.0 s); bare int → per minute (the
    reference's ``limit`` unit grammar, ratelimit/config.go)."""
    if isinstance(limit, int):
        return limit, 60.0
    n, _, unit = str(limit).partition("/")
    period = {"s": 1.0, "m": 60.0, "h": 3600.0}.get(unit or "m", 60.0)
    return int(n), period


def _run_bucket(
    ts_us: np.ndarray,
    tokens: float,
    last_us: float,
    rate_per_us: float,
    depth: float,
) -> tuple[np.ndarray, float, float]:
    """Run the bucket over event times (ascending); returns the allow
    mask and the final (tokens, last_us) state. Mirrors
    token_bucket.go getBucket/replenish/withdraw with event-time now."""
    allowed = np.zeros(len(ts_us), dtype=bool)
    for i in range(len(ts_us)):
        t = float(ts_us[i])
        # late arrivals (t < last_us — only possible across streaming
        # micro-batches; the batch kernel sorts the whole group) must
        # never UN-refill the bucket or rewind its clock: clamp the
        # replenish delta at 0 and keep last_us monotone, so a late
        # event only withdraws — matching what the batch kernel would
        # have decided for the in-order events around it.
        if t > last_us:
            tokens = tokens + (t - last_us) * rate_per_us
            if tokens > depth:
                tokens = depth
            last_us = t
        if tokens >= 1.0:
            allowed[i] = True
            tokens -= 1.0
    return allowed, tokens, last_us


def _ts_us(s: pd.Series) -> np.ndarray:
    # integer microseconds as float64: exact (< 2^53 until ~2255), and
    # identical to the oracle's epoch_us(ts)::DOUBLE. The datetime64[us]
    # cast makes this correct for any incoming resolution (Arrow may
    # hand applyInPandas ns- or us-backed series depending on version).
    return s.to_numpy().astype("datetime64[us]").astype("int64").astype("float64")


def token_bucket(
    df: DataFrame,
    limit: str | int,
    fields: list[str],
    ts_col: str = "ts",
    order_col: str = "offset",
    burst_multiplier: float = 1.0,
    active: Column | None = None,
) -> DataFrame:
    """Batch event-time token bucket: keep rows the bucket admits.

    One shuffle on ``fields``; within each key group rows are processed
    in (ts, order_col) order starting from a full bucket (the
    reference creates each bucket full, token_bucket.go:124-137).
    Rows outside the mask ``active`` pass through without tokens.
    """
    n, period = parse_limit(limit)
    rate_per_us = n / (period * 1e6)
    depth = n * burst_multiplier
    schema = df.schema
    order = order_col if order_col in df.columns else ts_col

    cols = df.columns
    guarded = active is not None  # the Column itself cannot ship to workers
    # no fields → one global bucket (the reference hashes the empty
    # field list to a single key); this serializes on one task, which
    # is what a single global rate limit inherently is. A literal in
    # groupBy would resolve as an ordinal, so group on a real column —
    # under a mask, the mask itself.
    extra = {"__tb_on": active} if guarded else {} if fields else {"__tb_g": F.lit(0)}

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if guarded and not pdf["__tb_on"].iloc[0]:
            return pdf[cols]
        pdf = pdf.sort_values([ts_col, order], kind="mergesort")
        t = _ts_us(pdf[ts_col])
        last = float(t[0]) if len(t) else 0.0
        allowed, _, _ = _run_bucket(t, depth, last, rate_per_us, depth)
        return pdf[allowed][cols]

    return df.withColumns(extra).groupBy(*fields, *extra).applyInPandas(run, schema=schema)


def streaming_token_bucket(
    df: DataFrame,
    limit: str | int,
    fields: list[str],
    ts_col: str = "ts",
    order_col: str = "offset",
    burst_multiplier: float = 1.0,
    gc_timeout_ms: int | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Streaming event-time token bucket with cross-batch state.

    State per key: (tokens, last event ms). The state timeout defaults
    to the full-refill time ``ceil(depth/rate)`` — when it fires the
    bucket must be full again, so removing it and re-creating a full
    bucket on the next event is semantically a no-op: the reference's
    full-bucket GC (token_bucket.go:155-190). Pass a larger
    ``gc_timeout_ms`` to keep buckets longer (only affects memory, not
    results). ProcessingTimeTimeout carries the same wall-clock caveat
    as the reference's GC clock.

    Caveat: that timeout makes Spark schedule a no-data batch on every
    trigger, so an ``availableNow`` query never terminates on its own
    and ``processAllAvailable`` never returns. Stop the query once
    ``lastProgress`` reports a batch with ``numInputRows == 0``: every
    allowed row is committed by then (the timeout only drops full
    buckets, it emits nothing).
    """
    n, period = parse_limit(limit)
    rate_per_us = n / (period * 1e6)
    depth = n * burst_multiplier
    if gc_timeout_ms is None:
        # wall-clock ms until a bucket must be full again (full-refill time)
        gc_timeout_ms = int(math.ceil(depth / (rate_per_us * 1000.0)))
    schema = df.schema
    order = order_col if order_col in df.columns else ts_col
    state_schema = T.StructType(
        [
            T.StructField("tokens", T.DoubleType()),
            T.StructField("last_us", T.DoubleType()),
        ]
    )

    cols = df.columns

    def proc(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # bucket has fully refilled → dropping state === keeping it
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values([ts_col, order], kind="mergesort")
        t = _ts_us(rows[ts_col])
        if state.exists:
            tokens, last = state.get
        else:
            tokens, last = depth, float(t[0])
        allowed, tokens, last = _run_bucket(t, tokens, last, rate_per_us, depth)
        state.update((tokens, last))
        state.setTimeoutDuration(gc_timeout_ms)
        out = rows[allowed][cols]
        if len(out):
            yield out

    if not fields:
        df = df.withColumn("__tb_g", F.lit(0))
    return df.groupBy(*(fields if fields else ["__tb_g"])).applyInPandasWithState(
        proc,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf="ProcessingTimeTimeout",
    )
