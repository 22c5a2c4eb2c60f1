"""Stateful streaming multiline: pattern merge with flush timeout.

The batch implementation (``beats_spark.multiline``) sessionizes with a
window function; a true stream cannot — an event may span micro-batch
boundaries, and an idle stream must flush its open event after a
timeout, exactly the reference reader's 5 s timeout flush
(``libbeat/reader/multiline/pattern.go:43-160`` +
``readfile/timeout.go``). This is the
``applyInPandasWithState`` operator: per stream key (source, part_id)
we buffer the open event across batches and flush on start-of-next,
end-of-stream timeout, or ``max_lines``.

Each key's rows go through the batch operator's Arrow forward pass
(``multiline.forward_merge``) with the state as its carry; no per-row
Python loop. State is one open event: (its first ``max_lines`` lines,
first offset, line count, last line's match flag).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.multiline import DEFAULT_MAX_LINES, forward_merge, with_carry

ROWS = pa.schema([("offset", pa.int64()), ("message", pa.string())])

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("message", T.StringType()),
        T.StructField("n_lines", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf", T.ArrayType(T.StringType())),
        T.StructField("first_offset", T.LongType()),
        T.StructField("n_lines", T.IntegerType()),
        # whether the batch's last line matched: under match="before"
        # the next batch's first line continues the event iff it did
        T.StructField("last_matched", T.BooleanType()),
    ]
)


def streaming_multiline_pattern(
    df: DataFrame,
    pattern: str,
    negate: bool = False,
    match: str = "after",
    max_lines: int = DEFAULT_MAX_LINES,
    timeout_ms: int = 5000,
    separator: str = "\n",
    output_mode: str = "append",
) -> DataFrame:
    """Merge a streaming line frame into multiline events.

    Input needs columns (source, part_id, offset, message); output is
    one row per completed event (same shape as batch multiline). The
    open tail event of each stream flushes ``timeout_ms`` after its
    stream goes idle — identical rows to the batch operator, plus
    bounded-latency flushing.

    Caveat: ``ProcessingTimeTimeout`` fires on a SUBSEQUENT micro-batch,
    so under a one-shot ``availableNow`` trigger the final open event of
    each stream can remain in state (no later batch arrives to fire the
    timeout). Continuous triggers flush it after ``timeout_ms``; tests
    that need the tail on availableNow send a sentinel line. The same
    timeout makes Spark schedule a no-data batch on every trigger, so
    an ``availableNow`` query never terminates on its own and
    ``processAllAvailable`` never returns: stop the query once
    ``lastProgress`` reports a batch with ``numInputRows == 0`` (all
    input is committed by then).
    """
    if match not in ("after", "before"):
        raise ValueError(f"match must be after|before, got {match!r}")
    # Java rlike, as in the batch operator; a null line never starts an
    # event there (the null start flag drops out of its running sum)
    m = F.col("message").rlike(pattern)
    m = F.coalesce(~m if negate else m, F.lit(True))

    def merge(key, rows, starts, extra, final=False):
        closed, carry, extra = forward_merge(
            rows, starts, extra, "message", max_lines, separator, final)
        return closed.to_pandas().assign(source=key[0], part_id=key[1]), carry, extra

    def proc(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        carry, extra, last_matched = None, 0, False
        if state.exists:
            buf, first_offset, n, last_matched = state.get
            carry = pa.RecordBatch.from_pydict(
                {"offset": [first_offset] * len(buf), "message": list(buf)}, schema=ROWS
            )
            extra = n - len(buf)
        if state.hasTimedOut:
            # idle flush (reader timeout): emit the open event.
            state.remove()
            yield merge(key, carry, np.zeros(len(carry), bool), extra, True)[0]
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("offset")
        matched = rows["_m"].to_numpy(bool)
        # after: a matching line continues the open event; before: a line
        # continues the event iff the PREVIOUS line matched — for the first
        # row, the stored flag of the previous batch's final line
        starts = ~(matched if match == "after" else np.append(last_matched, matched[:-1]))
        if carry is not None:
            starts = np.concatenate((np.zeros(len(carry), bool), starts))
        batch = pa.RecordBatch.from_pandas(rows[["offset", "message"]], ROWS, preserve_index=False)
        # past max_lines the event stays open but extra lines are
        # discarded from the content (reference messageBuffer.addLine,
        # multiline/message_buffer.go:72-110) — state stays bounded;
        # n_lines keeps the pre-cap count like the batch operator.
        closed, carry, extra = merge(key, with_carry(carry, batch), starts, extra)
        state.update((
            carry.column("message").to_pylist(), carry.column("offset")[0].as_py(),
            len(carry) + extra, bool(matched[-1]),
        ))
        state.setTimeoutDuration(timeout_ms)
        if len(closed):
            yield closed

    return (
        df.withColumn("_m", m).groupBy("source", "part_id")
        .applyInPandasWithState(
            proc,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode=output_mode,
            timeoutConf="ProcessingTimeTimeout",
        )
    )
