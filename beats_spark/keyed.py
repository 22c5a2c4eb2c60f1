"""The keyed forward pass: one ordered reader per key, as one Arrow pass.

Beats runs its stateful per-key stages one goroutine per key, in order:
a multiline reader per file (``libbeat/reader/multiline/pattern.go``),
a bucket per rate-limit key (``libbeat/processors/ratelimit/
token_bucket.go``). Here that shape is one hash shuffle on the key, one
sort within each partition by (key, order) and one ``mapInArrow`` whose
kernel walks the sorted rows forward. A kernel sees Arrow batches, not
groups: a hot key costs one batch of memory per task, not one frame of
its whole group, and a key may span any number of batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


def key_breaks(rows: pa.RecordBatch, cols: Sequence[str]) -> np.ndarray:
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
    """``rows`` behind the ``carry`` rows of the same schema."""
    if carry is None:
        return rows
    cols = [pa.concat_arrays([a, b]) for a, b in zip(carry.columns, rows.columns)]
    return pa.RecordBatch.from_arrays(cols, schema=rows.schema)


def keyed_pass(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column],
    columns: Sequence[str | Column],
    schema: T.StructType,
    kernel: Callable[[Iterator[tuple[pa.RecordBatch, np.ndarray]]], Iterator[pa.RecordBatch]],
) -> DataFrame:
    """Run ``kernel`` over ``df`` in (``keys``, ``order``) order.

    Rows are hash-partitioned on ``keys`` (one partition without keys),
    sorted by ``keys`` then ``order`` within each partition, and
    projected to ``columns``. ``kernel`` is called once per partition
    with its non-empty Arrow batches as ``(rows, breaks)`` pairs:
    ``breaks[i]`` is true where row ``i`` starts a key, i.e. at the
    partition's first row and where the key differs from the row before,
    the last row of the previous batch included. It yields batches of
    ``schema``. What it carries from one batch to the next, and what it
    flushes after the last, is its own business.
    """
    parted = df.repartition(*keys) if keys else df.repartition(1)
    ordered = parted.sortWithinPartitions(*keys, *order).select(*columns)
    keys = list(keys)

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def with_breaks():
            last = None
            for rows in batches:
                if not rows.num_rows:
                    continue
                breaks = key_breaks(rows, keys)
                breaks[0] = last is None or key_breaks(
                    with_carry(last, rows.slice(0, 1)), keys)[1]
                last = rows.slice(rows.num_rows - 1)
                yield rows, breaks

        yield from kernel(with_breaks())

    return ordered.mapInArrow(runner, schema=schema)
