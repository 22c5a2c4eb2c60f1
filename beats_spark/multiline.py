"""Multiline sessionization: merge raw lines into events, set-oriented.

Re-expresses the reference's streaming multiline readers
(``libbeat/reader/multiline/pattern.go:43-160`` pattern mode, defaults
at ``:52-58``; ``counter.go`` count mode) as DataFrame programs: an
event-start flag per line → events within each ``(source, part_id)``
stream → one joined row per event, either by a running-sum group id and
a group-by concat (``merge="agg"``) or by one keyed Arrow forward pass
(``merge="stream"``). Either way the one shuffle is keyed on the stream
identity, which is exactly the reference's one-goroutine-per-file
ordering guarantee; at 100 TB the key cardinality is #files × #parts,
so the shuffle is wide and even.

Pattern-mode semantics (matching the reference):

- ``m`` = line matches ``pattern``, inverted if ``negate``.
- ``match="after"``: a line with ``m`` true is appended to the previous
  event → a new event starts where ``m`` is false.
- ``match="before"``: a line with ``m`` true is glued to the FOLLOWING
  line → a new event starts where the PREVIOUS line had ``m`` false.
- ``flush_pattern``: a line matching it terminates the event (the next
  line starts a new one).
- ``max_lines`` (default 500): lines beyond the cap are discarded from
  the merged event (the event itself survives).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.keyed import keyed_pass, with_carry

DEFAULT_MAX_LINES = 500


def multiline_pattern(
    df: DataFrame,
    pattern: str,
    negate: bool = False,
    match: str = "after",
    flush_pattern: str | None = None,
    max_lines: int = DEFAULT_MAX_LINES,
    partition_cols: Sequence[str] = ("source", "part_id"),
    order_col: str = "offset",
    line_col: str = "message",
    separator: str = "\n",
    merge: str = "agg",
) -> DataFrame:
    """Merge lines into multiline events; one output row per event.

    Output: partition cols + ``offset`` (first line's order value),
    ``message`` (joined), ``n_lines`` (pre-cap line count).

    ``order_col`` must be unique within a stream (a null counts once):
    the two merges order tied lines differently, and ``agg``'s RANGE
    running sum puts tied lines in one event.

    Both merges read the same JVM flags per line: ``match_flag`` and the
    flush flag. ``merge`` picks the engine:

    - ``"agg"`` (default): window functions (``lag`` for ``before`` and
      the flush, a running ``sum`` of event starts) number the events,
      then groupBy(stream, event) + ordered ``collect_list`` —
      ObjectHashAggregate on the window's exchange, pure JVM.
    - ``"stream"``: a keyed forward pass (``keyed.keyed_pass``): one
      exchange and sort on (stream, order), then one ``mapInArrow`` that
      finds event starts (``event_starts``) and merges them
      (``forward_merge``) per Arrow batch, carrying the open event and
      the previous line's flags across batches. No window. Same rows.
    """
    if match not in ("after", "before"):
        raise ValueError(f"match must be after|before, got {match!r}")
    if merge not in ("agg", "stream"):
        raise ValueError(f"merge must be agg|stream, got {merge!r}")

    m = match_flag(F.col(line_col), pattern, negate)
    # a null line never flushes
    flush = (F.coalesce(F.col(line_col).rlike(flush_pattern), F.lit(False))
             if flush_pattern else None)
    if merge == "stream":
        return _merge_stream(df, m, flush, match, partition_cols, order_col,
                             line_col, separator, max_lines)

    # the stream's leading run of continuation lines sums to 0: its own event
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    is_start = ~(m if match == "after" else F.lag(m, 1, False).over(w))
    if flush is not None:
        is_start = is_start | F.lag(flush, 1, False).over(w)
    grouped = df.withColumn("_ml_group", F.sum(is_start.cast("long")).over(w))
    return _merge_groups(
        grouped, partition_cols, order_col, line_col, separator, max_lines, "_ml_group"
    )


def match_flag(line: Column, pattern: str, negate: bool) -> Column:
    """A line's pattern flag ``m``: Java ``rlike``, inverted if
    ``negate``. A null line counts as matched, so it continues the open
    event under ``after`` and glues the next line to it under
    ``before``."""
    m = line.rlike(pattern)
    return F.coalesce(~m if negate else m, F.lit(True))


def event_starts(
    m: np.ndarray, flush: np.ndarray | None, match: str,
    prev_m: bool = True, prev_flush: bool = False,
) -> np.ndarray:
    """Where events start among one stream's ordered lines, from their
    ``match_flag`` values ``m`` and flush flags (``None`` without a
    flush pattern). ``prev_m``/``prev_flush`` are the flags of the line
    before ``m[0]``: under ``after`` a line starts an event where it does
    not match, under ``before`` where the previous line did not match,
    and under both after a flushing line."""
    starts = ~(m if match == "after" else np.append(prev_m, m)[:-1])
    if flush is not None:
        starts |= np.append(prev_flush, flush)[:-1]
    return starts


def multiline_count(
    df: DataFrame,
    lines_count: int,
    partition_cols: Sequence[str] = ("source", "part_id"),
    order_col: str = "offset",
    line_col: str = "message",
    separator: str = "\n",
    max_lines: int = DEFAULT_MAX_LINES,
) -> DataFrame:
    """Count mode: merge every ``lines_count`` consecutive lines."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    grouped = df.withColumn(
        "_ml_group", F.floor((F.row_number().over(w) - 1) / lines_count)
    )
    return _merge_groups(
        grouped, partition_cols, order_col, line_col, separator, max_lines, "_ml_group"
    )


def forward_merge(
    rows: pa.RecordBatch, starts: np.ndarray, extra: int, line_col: str,
    max_lines: int, separator: str, final: bool = False,
) -> tuple[pa.RecordBatch, pa.RecordBatch | None, int]:
    """The multiline forward pass over ordered ``rows``: an event starts
    at row 0 and at each row where ``starts`` is true; row 0's event
    also has ``extra`` earlier lines that an earlier call dropped.

    Returns ``(closed, carry, carry_extra)``. ``closed`` holds each
    closed event's first row, with ``line_col`` replaced by the join of
    its non-null lines of rank below ``max_lines`` (``concat_ws(slice)``
    as in ``merge="agg"``) and ``n_lines`` (all its lines) appended. The
    last event stays open unless ``final``: the carry is its first
    ``max_lines`` rows (at least one), the rest only a count, so an
    event spanning many calls costs O(max_lines) per call."""
    n = rows.num_rows
    starts[0] = True
    first = np.flatnonzero(starts)
    lens = np.diff(first, append=n)
    n_lines = lens.astype(np.int64)
    n_lines[0] += extra
    line = rows.column(line_col)
    keep = (np.arange(n) - np.repeat(first, lens) < max_lines) & ~np.asarray(
        line.is_null(), dtype=bool)
    offsets = np.concatenate(([0], np.cumsum(keep)))[np.append(first, n)]
    lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), line.filter(pa.array(keep)))
    done = len(first) if final else len(first) - 1
    closed = rows.take(first[:done]).set_column(
        rows.schema.get_field_index(line_col), line_col,
        pc.binary_join(lists.slice(0, done), separator),
    ).append_column("n_lines", pa.array(n_lines[:done]))
    if final:
        return closed, None, 0
    carry = rows.slice(first[-1], max(max_lines, 1))
    return closed, carry, int(n_lines[-1]) - carry.num_rows


def _merge_stream(
    df: DataFrame,
    m: Column,
    flush: Column | None,
    match: str,
    partition_cols: Sequence[str],
    order_col: str,
    line_col: str,
    separator: str,
    max_lines: int,
) -> DataFrame:
    """``merge="stream"``: one keyed forward pass. The open event and
    the previous line's flags carry across Arrow batches; the open event
    flushes at end-of-partition."""
    out_cols = [*partition_cols, order_col, line_col, "n_lines"]
    out_schema = T.StructType([df.schema[c] for c in out_cols[:-2]] + [
        T.StructField(line_col, T.StringType()), T.StructField("n_lines", T.LongType())])
    flags = [m.alias("_m")] + ([] if flush is None else [flush.alias("_f")])
    flushes = flush is not None  # the Column itself cannot ship to workers

    def kernel(parts):
        carry, extra, prev = None, 0, (True, False)
        for rows, breaks in parts:
            matched = rows.column("_m").to_numpy(zero_copy_only=False)
            flushed = rows.column("_f").to_numpy(zero_copy_only=False) if flushes else None
            starts = breaks | event_starts(matched, flushed, match, *prev)
            prev = (matched[-1], flushes and flushed[-1])
            if carry is not None:
                starts = np.concatenate((np.zeros(len(carry), bool), starts))
            closed, carry, extra = forward_merge(
                with_carry(carry, rows), starts, extra, line_col, max_lines, separator)
            yield closed.select(out_cols)
        if carry is not None:
            yield forward_merge(carry, np.zeros(len(carry), bool), extra, line_col,
                                max_lines, separator, final=True)[0].select(out_cols)

    return keyed_pass(df, partition_cols, [order_col],
                      [*partition_cols, order_col, line_col, *flags], out_schema, kernel)


def _merge_groups(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    line_col: str,
    separator: str,
    max_lines: int,
    group_col: str,
) -> DataFrame:
    # collect_list order is non-deterministic after shuffles → collect
    # (order, line) structs and array_sort; slice applies max_lines.
    lines = F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(line_col).alias("l"))))
    agg = (
        df.groupBy(*partition_cols, group_col)
        .agg(lines.alias("_lines"), F.count(F.lit(1)).alias("n_lines"))
        .withColumns({
            # the first line's order value, null included (as the
            # window sorts it: nulls first)
            order_col: F.col("_lines")[0]["o"],
            line_col: F.concat_ws(
                separator,
                F.transform(F.slice(F.col("_lines"), 1, max_lines), lambda x: x["l"]),
            ),
        })
        .drop("_lines", group_col)
    )
    return agg.select(*partition_cols, order_col, line_col, "n_lines")
