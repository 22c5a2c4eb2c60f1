"""Explicit skew mitigation: salted two-phase operators for hot keys.

Hash aggregates (counts/sums) already absorb skew via map-side partial
aggregation, and dim joins are broadcast — the operator class that a
hot source key actually stalls is the per-key WINDOW (rank / top-k):
every row of the hot key lands in ONE task. The standard fix is
salting: split each key into B sub-buckets, take the per-bucket
top-k (exact superset of the global top-k), then finish on the ≤ B·k
survivors per key — two shuffles, both bounded, no single-task key.

Used by ``rate_limit`` (``salt_buckets`` knob) — the north rule's
"salted-key skew mitigation for hot sources" made concrete.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    keys: Sequence[Column | str],
    order_col: Column | str,
    k: int,
    salt_buckets: int = 16,
    rn_col: str = "_rn",
    active: Column | None = None,
) -> DataFrame:
    """Exact per-key top-k by ``order_col`` (ascending, ties broken by
    the column itself — use a unique order column for determinism),
    skew-safe: phase 1 ranks within (keys, salt) where salt =
    pmod(hash(order_col), B) and keeps rank ≤ k (a superset of the
    true top-k, ≤ B·k rows per key); phase 2 ranks the survivors
    within keys alone. Emits ``rn_col`` (the exact global per-key
    rank); callers filter/drop it. With ``salt_buckets=1`` this
    degenerates to the plain single-window form. Rows outside the mask
    ``active`` (one more partition key) pass through unranked."""
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    keys = [F.col(c) if isinstance(c, str) else c for c in keys]
    if active is not None:
        keys.append(active)
    top = (lambda rank: rank <= k) if active is None else (lambda rank: ~active | (rank <= k))

    if salt_buckets <= 1:
        w = Window.partitionBy(*keys).orderBy(order)
        return df.withColumn(rn_col, F.row_number().over(w)).filter(
            top(F.col(rn_col))
        )
    salt = F.pmod(F.xxhash64(order), F.lit(salt_buckets))
    w1 = Window.partitionBy(*keys, salt).orderBy(order)
    pruned = df.withColumn("_salt_rn", F.row_number().over(w1)).filter(
        top(F.col("_salt_rn"))
    ).drop("_salt_rn")
    w2 = Window.partitionBy(*keys).orderBy(order)
    return pruned.withColumn(rn_col, F.row_number().over(w2)).filter(
        top(F.col(rn_col))
    )
