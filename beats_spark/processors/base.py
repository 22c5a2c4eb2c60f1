"""Processor base classes, the per-row guard, and the registry."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where, guard_mask


class Proc:
    """Base processor, called as ``proc(df, active=None)``. ``active``
    is one never-null per-row mask: the ``when:`` guard ANDed with any
    enclosing guard (an ``if/then/else`` branch, a guarded script or
    ingest pipeline). ``apply`` honours it in place, on one frame:
    writes go through :func:`~beats_spark.conditions.assign_where`,
    filters drop only active rows, parsers flag only active rows and
    lookup joins null the join key of inactive rows."""

    when: dict | None = None

    def __call__(self, df: DataFrame, active: Column | None = None) -> DataFrame:
        if self.when is not None:
            active = guard_mask(self.when, df, active)
        return self.apply(df, active)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:  # pragma: no cover
        raise NotImplementedError


class Project(Proc):
    """Column-assignment processor (the withColumn family).

    Subclasses implement ``assigns`` (new/updated columns) and
    optionally ``drops``. Under a mask every assignment becomes
    ``CASE WHEN active THEN new ELSE old END`` — a per-row conditional
    mutation with zero extra scans (the reference evaluates the guard
    per event the same way, ``conditionals.go:82-87``).
    """

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        return {}

    def drops(self, df: DataFrame) -> list[str]:
        return []

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        assigns = self.assigns(df)
        drops = [d for d in self.drops(df) if d in df.columns]
        if active is not None:
            # a guarded drop can't remove the column for only some rows →
            # null it out on the active rows
            assigns.update({d: F.lit(None) for d in drops})
            drops = []
        df = assign_where(df, active, assigns)
        return df.drop(*drops) if drops else df


MASK_PREFIX = "_mask_"


def scoped(df: DataFrame, mask: Column | None, owner: object,
           body: Callable[[DataFrame, Column | None], DataFrame]) -> DataFrame:
    """``body(df, mask)`` for a multi-step scope, with ``mask`` pinned
    as a column for the scope's duration, so its later steps read the
    guard as it was before the scope ran (the reference evaluates a
    condition once)."""
    if mask is None:
        return body(df, None)
    name = f"{MASK_PREFIX}{id(owner)}"
    return body(df.withColumn(name, mask), F.col(name)).drop(name)


REGISTRY: dict[str, Callable[..., Proc]] = {}


def register(name: str):
    def deco(factory: Callable[..., Proc]):
        REGISTRY[name] = factory
        return factory

    return deco


def build_processor(entry: dict) -> Proc:
    """One config entry ``{name: {...cfg}}`` (plus optional nested
    ``when``) → processor instance (``libbeat/processors/processor.go:86-116``)."""
    if "if" in entry:
        from beats_spark.pipeline import IfThenElse

        return IfThenElse(entry)
    names = [k for k in entry if k != "when"]
    if len(names) != 1:
        raise ValueError(f"processor entry must have exactly one key: {entry}")
    name = names[0]
    if name not in REGISTRY:
        raise ValueError(f"unknown processor {name!r}")
    cfg = dict(entry[name] or {})
    when = cfg.pop("when", None) or entry.get("when")
    proc = REGISTRY[name](**cfg)
    proc.when = when
    return proc
