"""Pipeline builder: config → ordered DataFrame-transform chain.

Mirrors the reference's processing-chain construction
(``libbeat/publisher/processing/default.go:78-80,247-365``): a fixed
global order of (1) normalization, (2) tags, (3) constant fields,
(4) input-level processors, (5) builtin fields, (6) global processors.
Each ``processors:`` entry is one dict keyed by the processor name
(looked up in the registry) plus an optional ``when:`` guard;
``if/then/else`` composes (``conditionals.go:113-187``).

Guards never split the frame: ``when:`` and the ``if/then/else``
branches compile to one per-row mask every processor honours in place
(:class:`~beats_spark.processors.base.Proc`).

The "IR" is the Catalyst logical plan built from the chained
expressions — each processor contributes withColumn/filter/join nodes
and Catalyst collapses adjacent projections into single stages, so a
50-processor chain still compiles to a handful of codegen'd operators.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import guard_mask
from beats_spark.processors.base import Proc, build_processor, scoped
from beats_spark.processors.parsers import Script


class IfThenElse(Proc):
    """``{"if": cond, "then": [procs], "else": [procs]}`` — ``then``
    runs under ``active & cond`` and ``else`` under ``active & ~cond``
    (a null condition value takes ``else``), both on the same frame.
    The condition is materialized once, before either branch runs, so a
    branch that rewrites the condition's fields cannot re-route rows."""

    def __init__(self, entry: dict):
        self.cond = entry["if"]
        then, other = entry.get("then") or [], entry.get("else") or []
        self.then = build_pipeline(then if isinstance(then, list) else [then])
        self.other = build_pipeline(other if isinstance(other, list) else [other])

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        def branches(df: DataFrame, yes: Column) -> DataFrame:
            no = ~yes
            if active is not None:
                yes, no = active & yes, active & no
            return self.other(self.then(df, yes), no)

        return scoped(df, guard_mask(self.cond, df), self, branches)


def build_pipeline(
    processors: Sequence[dict | Proc | Callable[[DataFrame], DataFrame]],
) -> Callable[..., DataFrame]:
    """Compile a processor config list into one ``(df, active=None) →
    df`` function.

    Entries may be config dicts (registry lookup), pre-built processors,
    or bare callables (run as a ``dataframe`` script) — matching how the
    reference mixes client and global processor lists into one ordered
    chain.
    """
    procs: list[Proc] = []
    for entry in processors:
        if isinstance(entry, dict):
            procs.append(build_processor(entry))
        elif isinstance(entry, Proc):
            procs.append(entry)
        elif callable(entry):
            procs.append(Script(entry))
        else:
            raise TypeError(f"bad pipeline entry {entry!r}")

    def run(df: DataFrame, active: Column | None = None) -> DataFrame:
        for p in procs:
            df = p(df, active)
        return df

    return run


def normalize(df: DataFrame, drop_empty_col: str | None = "message") -> DataFrame:
    """``generalizeEvent`` analogue (``processing/processors.go:45-63``):
    Spark rows are already canonical generic values; the one behavioral
    piece is dropping empty events."""
    if drop_empty_col and drop_empty_col in df.columns:
        return df.filter(
            F.col(drop_empty_col).isNotNull() & (F.col(drop_empty_col) != "")
        )
    return df
