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

Arrow-batched per group — no per-row Python UDF. State is one open
event: (buffered lines, first offset, line count).
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from beats_spark.multiline import DEFAULT_MAX_LINES

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
        # whether the LAST line seen matched the pattern — needed so
        # match="before" survives micro-batch boundaries (the first line
        # of the next batch continues the open event iff the previous
        # batch's final line matched, exactly like the batch operator's
        # lag()).
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
    rx = re.compile(pattern)

    def proc(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        source, part_id = key
        if state.hasTimedOut:
            # idle flush (reader timeout): emit the open event.
            buf, first_offset, n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "source": [source],
                    "part_id": [part_id],
                    "offset": [first_offset],
                    "message": [separator.join(buf)],
                    "n_lines": [n],
                }
            )
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("offset")

        buf: list[str] = []
        first_offset = 0
        n = 0
        last_matched = False
        if state.exists:
            buf, first_offset, n, last_matched = state.get
            buf = list(buf)

        out: dict[str, list] = {
            "source": [], "part_id": [], "offset": [], "message": [], "n_lines": []
        }

        def emit() -> None:
            out["source"].append(source)
            out["part_id"].append(part_id)
            out["offset"].append(first_offset)
            out["message"].append(separator.join(buf))
            out["n_lines"].append(n)

        matched = rows["message"].map(lambda s: bool(rx.search(s)) != negate)
        prev_m = None
        if match == "before":
            # the fill value for the first row is the stored match flag of
            # the previous batch's final line — an event spanning the
            # micro-batch boundary keeps accumulating instead of splitting.
            prev_m = matched.shift(1, fill_value=bool(last_matched))
        for i, (off, line) in enumerate(zip(rows["offset"], rows["message"])):
            # after: matching lines continue the open event; before: a line
            # continues the event the PREVIOUS matching line opened.
            cont = bool(matched.iloc[i]) if match == "after" else bool(prev_m.iloc[i])
            if n and not cont:
                emit()
                buf, n = [], 0
            if n == 0:
                first_offset = int(off)
            # past max_lines the event stays open but extra lines are
            # discarded from the content (reference messageBuffer.addLine,
            # multiline/message_buffer.go:72-110) — state stays bounded;
            # n_lines keeps the pre-cap count like the batch operator.
            if len(buf) < max_lines:
                buf.append(line)
            n += 1

        state.update((buf, first_offset, n, bool(matched.iloc[-1])))
        state.setTimeoutDuration(timeout_ms)
        if out["source"]:
            yield pd.DataFrame(out)

    return (
        df.groupBy("source", "part_id")
        .applyInPandasWithState(
            proc,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode=output_mode,
            timeoutConf="ProcessingTimeTimeout",
        )
    )
