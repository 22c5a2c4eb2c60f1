"""Lookup / enrichment joins.

Beats has no relational join — enrichment is a per-event lookup against
a cached side table (``add_host_metadata``, ``translate_sid``, ``dns``,
docker/k8s metadata: SURVEY.md §2.6). The Spark-native shape for every
one of them is a **broadcast left join** against a small dim DataFrame:
the dim is shipped once per executor (the analogue of Beats' per-process
cache), the fact side never shuffles.

All lookup processors share one implementation parameterized by the dim,
the join key, and the output column prefix. Live I/O in executors
(IMDS probes, DNS resolution) is out — dims are materialized up front,
which is also the only defensible design at 10^12 rows.

Under a guard, rows outside the mask get a null join key, so they match
nothing; dim columns join under private names and are written through
the masked assign, so an existing target is written once, in place.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where, masked_assigns
from beats_spark.processors.base import Proc, Project, register


class LookupJoin(Proc):
    """Broadcast left join; dim columns land prefixed (``prefix.col`` →
    ``prefix_col``) so repeated enrichments never collide. A target that
    already exists takes the dim value where the key matches and keeps
    its old value elsewhere."""

    def __init__(self, dim: DataFrame, on: str, dim_key: str | None = None,
                 prefix: str = "", fields: list[str] | None = None,
                 overwrite: bool = True):
        self.dim = dim
        self.on = on
        self.dim_key = dim_key or on
        self.prefix = prefix
        self.fields = fields
        self.overwrite = overwrite

    def targets(self) -> dict[str, str]:
        """dim column → output column."""
        cols = self.fields or [c for c in self.dim.columns if c != self.dim_key]
        return {c: f"{self.prefix}{c}" for c in cols}

    def key(self) -> Column:
        return F.col(self.on)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        renames = self.targets()
        if not self.overwrite:
            # add_host_metadata replace_fields=false: keep pre-existing
            # event fields instead of the looked-up values
            renames = {c: n for c, n in renames.items() if n not in df.columns}
            if not renames:
                return df
        private = {n: f"_lk_{i}" for i, n in enumerate(renames.values())}
        sel = [F.col(self.dim_key).alias("_lk_key")] + [
            F.col(c).alias(private[n]) for c, n in renames.items()
        ]
        dim_slim = self.dim.select(*sel).dropDuplicates(["_lk_key"])
        key = self.key() if active is None else F.when(active, self.key())
        out = df.join(F.broadcast(dim_slim), key == dim_slim["_lk_key"], "left")
        hit = F.col("_lk_key").isNotNull()
        existing = {n: F.col(p) for n, p in private.items() if n in df.columns}
        return out.withColumns({
            **{n: F.col(p) for n, p in private.items()},
            **masked_assigns(out, hit, existing),
        }).drop("_lk_key", *private.values())


@register("add_host_metadata")
class AddHostMetadata(LookupJoin):
    """Host info enrichment: ``host_*`` fields joined on ``source``.
    Ref: add_host_metadata/add_host_metadata.go:83-100 (cache → broadcast)."""

    def __init__(self, dim: DataFrame, on: str = "source", prefix: str = "host_",
                 fields: list[str] | None = None):
        super().__init__(dim, on=on, prefix=prefix, fields=fields)


@register("add_observer_metadata")
class AddObserverMetadata(LookupJoin):
    """Ref: add_observer_metadata/add_observer_metadata.go:83."""

    def __init__(self, dim: DataFrame, on: str = "source", prefix: str = "observer_"):
        super().__init__(dim, on=on, prefix=prefix)


@register("add_cloud_metadata")
class AddCloudMetadata(Project):
    """The reference probes IMDS once and attaches constant ``cloud.*``
    fields (add_cloud_metadata/add_cloud_metadata.go:115) → a constant
    struct literal here."""

    def __init__(self, cloud: dict[str, str]):
        self.cloud = cloud

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        return {f"cloud_{k}": F.lit(v) for k, v in self.cloud.items()}


@register("add_docker_metadata")
class AddDockerMetadata(LookupJoin):
    """Container-id → container labels/name (the watcher cache becomes
    the dim). Ref: add_docker_metadata/add_docker_metadata.go:134."""

    def __init__(self, dim: DataFrame, on: str = "container_id",
                 prefix: str = "container_", fields: list[str] | None = None):
        super().__init__(dim, on=on, prefix=prefix, fields=fields)


@register("add_kubernetes_metadata")
class AddKubernetesMetadata(LookupJoin):
    """Pod-key → ``kubernetes.*`` metadata (indexer/matcher cache → dim).
    Ref: add_kubernetes_metadata/kubernetes.go:242."""

    def __init__(self, dim: DataFrame, on: str = "pod_uid",
                 prefix: str = "kubernetes_", fields: list[str] | None = None):
        super().__init__(dim, on=on, prefix=prefix, fields=fields)


@register("add_process_metadata")
class AddProcessMetadata(LookupJoin):
    """PID → process info (process cache → dim).
    Ref: add_process_metadata/add_process_metadata.go:161."""

    def __init__(self, dim: DataFrame, on: str = "pid",
                 prefix: str = "process_", fields: list[str] | None = None):
        super().__init__(dim, on=on, prefix=prefix, fields=fields)


@register("add_nomad_metadata")
class AddNomadMetadata(LookupJoin):
    """Allocation-id → Nomad job/task metadata. The ``logs_path``
    matcher extracts the allocation UUID from the harvested file path
    (x-pack/filebeat/processors/add_nomad_metadata/matchers.go:55-92:
    path must contain logs_path, first UUID in the path is the key;
    otherwise the event stays unenriched), then the broadcast dim
    stands in for the agent's allocation watcher cache."""

    _ALLOC_ID_RX = (
        "[a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-"
        "[a-fA-F0-9]{4}-[a-fA-F0-9]{12}"
    )
    def __init__(self, dim: DataFrame, path_col: str = "source",
                 logs_path: str = "/var/lib/nomad", prefix: str = "nomad_",
                 fields: list[str] | None = None):
        super().__init__(dim, on=path_col, dim_key="allocation_id",
                         prefix=prefix, fields=fields)
        self.logs_path = logs_path.rstrip("/") + "/"

    def key(self) -> Column:
        extracted = F.regexp_extract(F.col(self.on), self._ALLOC_ID_RX, 0)
        return F.when(
            F.col(self.on).contains(self.logs_path) & (extracted != ""),
            extracted,
        )


@register("translate")
class Translate(LookupJoin):
    """Generic value→value translation dim join (the translate_sid
    shape, translate_sid/translatesid.go:75)."""

    def __init__(self, dim: DataFrame, field: str, dim_key: str,
                 target: str, dim_value: str):
        super().__init__(dim, on=field, dim_key=dim_key, fields=[dim_value])
        self.target = target
        self.dim_value = dim_value

    def targets(self) -> dict[str, str]:
        return {self.dim_value: self.target}


@register("dns")
class Dns(Proc):
    """Reverse-DNS enrichment against a pre-resolved dim (no live I/O in
    executors). ``action: append|replace``, ``tag_on_failure`` appends a
    tag when no mapping exists. Ref: dns/dns.go:81, config.go:32-43."""

    def __init__(self, dim: DataFrame, field: str, target: str,
                 action: str = "append", tag_on_failure: list[str] | None = None,
                 dim_key: str = "ip", dim_value: str = "hostname"):
        self.dim = dim
        self.field = field
        self.target = target
        self.action = action
        self.tags = tag_on_failure or []
        self.dim_key = dim_key
        self.dim_value = dim_value

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        dim = self.dim.select(
            F.col(self.dim_key).alias("_dns_key"), F.col(self.dim_value).alias("_dns_val")
        ).dropDuplicates(["_dns_key"])
        key = F.col(self.field) if active is None else F.when(active, F.col(self.field))
        out = df.join(F.broadcast(dim), key == dim["_dns_key"], "left")
        val = F.col("_dns_val")
        if self.action == "replace":
            val = F.coalesce(val, F.col(self.field))
        assigns = {self.target: val}
        if self.tags:
            existing = (
                F.coalesce(F.col("tags"), F.array()) if "tags" in df.columns else F.array()
            )
            assigns["tags"] = F.when(
                F.col("_dns_val").isNull(),
                F.array_union(existing, F.array(*[F.lit(t) for t in self.tags])),
            ).otherwise(existing)
        return assign_where(out, active, assigns).drop("_dns_key", "_dns_val")


def asof_enrich(
    df: DataFrame,
    dim: DataFrame,
    on: str,
    ts_col: str = "ts",
    dim_key: str | None = None,
    valid_from: str = "valid_from",
    prefix: str = "",
    fields: list[str] | None = None,
    mode: str = "broadcast",
    active: Column | None = None,
) -> DataFrame:
    """Time-versioned enrichment: join each event to the dim version
    with the greatest ``valid_from`` <= the event's ``ts_col`` for the
    same key (backward as-of join, ``>=`` inclusive) — the
    batch-replay-correct form of the reference's refreshing metadata
    caches (add_host_metadata/add_host_metadata.go:83-100 refreshes on
    a TTL; replaying history through a live cache enriches old events
    with today's metadata, an as-of join enriches them with the
    metadata of their own time).

    Events with a null key or no version at-or-before their timestamp
    get nulls; dim rows with a null key never match (equi-join
    semantics). Rows outside the mask ``active`` match nothing and
    keep every field.

    Two scale modes:

    - ``broadcast`` (default): versions are packed per key into one
      sorted array and broadcast; the match is
      ``try_element_at(filter(versions, v -> v.vf <= ts), -1)`` — pure
      JVM expressions inside codegen, NO added shuffle on the fact
      side, cost O(versions-per-key) per event. The right plan whenever
      the dim fits an executor (host/container metadata always does).
    - ``merge``: tag + union dim and event rows, one shuffle on the
      key, and a running ``last(dim, ignorenulls)`` window ordered by
      (time, dim-before-event) — the sort-merge as-of for dims too big
      to broadcast. Hot keys serialize within their partition (window
      scan); skewed fact keys are the broadcast mode's job.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    dim_key = dim_key or on
    cols = fields or [c for c in dim.columns if c not in (dim_key, valid_from)]
    renames = {c: f"{prefix}{c}" if prefix else c for c in cols}
    dim = dim.filter(F.col(dim_key).isNotNull())
    key = F.col(on) if active is None else F.when(active, F.col(on))

    if mode == "broadcast":
        vs = dim.groupBy(F.col(dim_key).alias("_as_key")).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(valid_from).alias("_vf"),
                             *[F.col(c) for c in cols])
                )
            ).alias("_vs")
        )
        out = df.join(F.broadcast(vs), key == vs["_as_key"], "left")
        match = F.try_element_at(
            F.filter(F.col("_vs"), lambda v: v["_vf"] <= F.col(ts_col)),
            F.lit(-1),
        )
        return assign_where(
            out, active, {n: match[c] for c, n in renames.items()}
        ).drop("_as_key", "_vs")

    if mode != "merge":
        raise ValueError(f"mode must be broadcast|merge, got {mode!r}")

    dim_struct_t = T.StructType([T.StructField(c, dim.schema[c].dataType)
                                 for c in cols])
    ev_rows = df.select(
        key.alias("_k"), F.col(ts_col).alias("_t"),
        F.lit(1).alias("_is_ev"),
        # a null key matches nothing: spread those events over the
        # window partitions instead of piling them into one
        F.when(key.isNull(), F.monotonically_increasing_id()).alias("_spread"),
        *df.columns,
        F.lit(None).cast(dim_struct_t).alias("_d"),
    )
    dim_rows = dim.select(
        F.col(dim_key).alias("_k"), F.col(valid_from).alias("_t"),
        F.lit(0).alias("_is_ev"), F.lit(None).cast("bigint").alias("_spread"),
        *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in df.columns],
        F.struct(*[F.col(c) for c in cols]).alias("_d"),
    )
    w = (
        Window.partitionBy("_k", "_spread")
        .orderBy("_t", "_is_ev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev_rows.unionByName(dim_rows).withColumn(
        "_carry", F.last("_d", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_is_ev") == 1).select(*df.columns, "_carry")
    return assign_where(
        out, active, {n: F.col("_carry")[c] for c, n in renames.items()}
    ).drop("_carry")


@register("asof_lookup")
class AsofLookup(Proc):
    """Processor-chain face of :func:`asof_enrich` (versioned dim
    lookup in a config pipeline)."""

    def __init__(self, dim: DataFrame, on: str, ts_col: str = "ts",
                 dim_key: str | None = None, valid_from: str = "valid_from",
                 prefix: str = "", fields: list[str] | None = None,
                 mode: str = "broadcast"):
        self.kw = dict(dim=dim, on=on, ts_col=ts_col, dim_key=dim_key,
                       valid_from=valid_from, prefix=prefix, fields=fields,
                       mode=mode)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return asof_enrich(df, active=active, **self.kw)
