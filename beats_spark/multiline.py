"""Multiline sessionization: merge raw lines into events, set-oriented.

Re-expresses the reference's streaming multiline readers
(``libbeat/reader/multiline/pattern.go:43-160`` pattern mode, defaults
at ``:52-58``; ``counter.go`` count mode) as a windowed DataFrame
program: an ``is_start`` boolean per line → running-sum group id within
each ``(source, part_id)`` stream → group-by concat. The per-stream
window shuffle is keyed on the stream identity, which is exactly the
reference's one-goroutine-per-file ordering guarantee; at 100 TB the
key cardinality is #files × #parts, so the shuffle is wide and even.

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
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

    ``merge`` picks the second phase; the window phase is shared, and
    so is its one exchange (its hash partitioning on the stream key
    satisfies the compound-key aggregate):

    - ``"agg"`` (default): groupBy(stream, group) + ordered
      ``collect_list`` — ObjectHashAggregate in place, pure JVM.
    - ``"stream"``: an Arrow forward pass (``mapInArrow``) over the
      window's (stream, order)-sorted output — ``forward_merge`` per
      Arrow batch, carrying the open event across batches. Same rows.
      Both take 1.0 s on 400k lines at ``local[4]`` (bench.py
      ``multiline_scale``, min of 5).
    """
    if match not in ("after", "before"):
        raise ValueError(f"match must be after|before, got {match!r}")
    if merge not in ("agg", "stream"):
        raise ValueError(f"merge must be agg|stream, got {merge!r}")

    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    m = F.col(line_col).rlike(pattern)
    if negate:
        m = ~m

    if match == "after":
        is_start = ~m
    else:  # before: new event when the previous line did not match
        prev_m = F.lag(m, 1, False).over(w)
        is_start = ~prev_m

    if flush_pattern:
        flushed_prev = F.lag(F.col(line_col).rlike(flush_pattern), 1, False).over(w)
        is_start = is_start | flushed_prev

    # first line of each stream always starts an event
    rn = F.row_number().over(w)
    is_start = is_start | (rn == 1)

    grouped = df.withColumn(
        "_ml_group", F.sum(is_start.cast("long")).over(w)
    )
    merger = _merge_groups_stream if merge == "stream" else _merge_groups
    return merger(
        grouped, partition_cols, order_col, line_col, separator, max_lines, "_ml_group"
    )


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


def _key_breaks(rows: pa.RecordBatch, cols: Sequence[str]) -> np.ndarray:
    """True where a row's ``cols`` differ from the row before; null
    equals null, as in a Spark group key."""
    starts = np.zeros(rows.num_rows, dtype=bool)
    for c in cols:
        cur, prev = rows.column(c).slice(1), rows.column(c).slice(0, rows.num_rows - 1)
        ne = pc.or_(pc.fill_null(pc.not_equal(cur, prev), False),
                    pc.not_equal(cur.is_null(), prev.is_null()))
        starts[1:] |= ne.to_numpy(zero_copy_only=False)
    return starts


def with_carry(carry: pa.RecordBatch | None, rows: pa.RecordBatch) -> pa.RecordBatch:
    """``rows`` behind the open event that ``forward_merge`` carried."""
    if carry is None:
        return rows
    cols = [pa.concat_arrays([a, b]) for a, b in zip(carry.columns, rows.columns)]
    return pa.RecordBatch.from_arrays(cols, schema=rows.schema)


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


def _merge_groups_stream(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    line_col: str,
    separator: str,
    max_lines: int,
    group_col: str,
) -> DataFrame:
    """Shuffle-free merge: the window already leaves each physical
    partition holding whole streams, sorted by (stream, order), so an
    event's lines are contiguous. ``sortWithinPartitions`` re-states
    that contract; the planner elides it. The open event carries across
    Arrow batches and flushes at end-of-partition."""
    gcols = [*partition_cols, group_col]
    out_cols = [*partition_cols, order_col, line_col, "n_lines"]
    df = df.sortWithinPartitions(*partition_cols, order_col).select(*gcols, order_col, line_col)
    out_schema = T.StructType([df.schema[c] for c in out_cols[:-2]] + [
        T.StructField(line_col, T.StringType()), T.StructField("n_lines", T.LongType())])

    def runner(batches):
        carry, extra = None, 0
        for batch in batches:
            rows = with_carry(carry, batch)
            if rows.num_rows:
                closed, carry, extra = forward_merge(
                    rows, _key_breaks(rows, gcols), extra, line_col, max_lines, separator)
                yield closed.select(out_cols)
        if carry is not None:
            yield forward_merge(carry, np.zeros(len(carry), bool), extra, line_col,
                                max_lines, separator, final=True)[0].select(out_cols)

    return df.mapInArrow(runner, schema=out_schema)


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
