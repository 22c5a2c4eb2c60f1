"""Condition compiler: Beats condition config dict → one pyspark Column.

Grammar (mirrors the reference's condition language,
``libbeat/conditions/conditions.go:30-40`` with factory ``:55-100``):

.. code-block:: yaml

    equals:     {field: value, ...}          # conjunction, type-strict
    contains:   {field: substring, ...}      # string or array<string> field
    regexp:     {field: pattern, ...}
    range:      {field: {gt|gte|lt|lte: num, ...}, ...}
    has_fields: [field, ...]
    network:    {field: cidr | named | [of those]}
    and: [cond, ...]  /  or: [cond, ...]  /  not: cond

The compiled output is a single boolean ``Column``; Catalyst folds,
reorders and pushes it down for free. Mirroring the reference's regex
optimizer (``libbeat/common/match/optimize.go:34-80``), ``contains``
compiles to a substring matcher (``Column.contains``) rather than a
regex, and ``regexp`` patterns that are plain literals compile to
``contains`` too.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

Resolver = Callable[[str], Column]

#: Named network ranges → CIDRs, both families (reference:
#: libbeat/conditions/network.go:33-63 — the Go net.IP.Is* predicates
#: expressed as the CIDR sets they test).
NAMED_NETWORKS: dict[str, list[str]] = {
    "loopback": ["127.0.0.0/8", "::1/128"],
    "unicast": ["0.0.0.0/0", "::/0"],
    "multicast": ["224.0.0.0/4", "ff00::/8"],
    "link_local_unicast": ["169.254.0.0/16", "fe80::/10"],
    "link_local_multicast": ["224.0.0.0/24", "ff02::/16"],
    "interface_local_multicast": ["ff01::/16"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16", "fc00::/7"],
    "public": [],  # complement of private+loopback+link_local — handled specially
    "unspecified": ["0.0.0.0/32", "::/128"],
}

#: isLocalOrPrivate (network.go:225-232) — what "public" excludes:
#: private + loopback + unspecified + IPv4 broadcast + link-local
#: unicast + link-local multicast + interface-local multicast.
_LOCAL_OR_PRIVATE = [
    "10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16", "127.0.0.0/8",
    "169.254.0.0/16", "0.0.0.0/32", "255.255.255.255/32", "224.0.0.0/24",
    "fc00::/7", "::1/128", "fe80::/10", "::/128", "ff01::/16", "ff02::/16",
]

_IPV4_RE = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"


def make_resolver(df: DataFrame | None, attrs_col: str = "attrs") -> Resolver:
    """Field-path → Column resolver.

    Top-level/dotted struct paths resolve with ``F.col``. If the path's
    root is not a column of ``df`` but an ``attrs`` map column exists,
    resolve into the map — our stand-in for Beats' open MapStr schema.
    """

    def resolve(path: str) -> Column:
        if df is not None:
            root = path.split(".")[0]
            if root not in df.columns:
                if attrs_col in df.columns:
                    return F.col(attrs_col).getItem(path)
                # missing field = NULL (conditions → false, format
                # strings → null-propagate), matching the reference's
                # missing-key behavior instead of an analysis error.
                return F.lit(None).cast("string")
        return F.col(path)

    return resolve


def _is_array_field(df: DataFrame | None, path: str) -> bool:
    if df is None or "." in path:
        return False
    for f in df.schema.fields:
        if f.name == path:
            return f.dataType.typeName() == "array"
    return False


def _ip_to_long(col: Column) -> Column:
    """IPv4 dotted-quad string → uint32 as bigint (pure JVM expression).
    try_cast: under ANSI mode a plain cast throws on non-numeric input
    even when AND-guarded by the dotted-quad rlike (codegen does not
    short-circuit across vectorized batches)."""
    parts = F.split(col, r"\.")
    return (
        parts.getItem(0).try_cast("long") * F.lit(16777216)
        + parts.getItem(1).try_cast("long") * F.lit(65536)
        + parts.getItem(2).try_cast("long") * F.lit(256)
        + parts.getItem(3).try_cast("long")
    )


def _cidr_match(col: Column, cidr: str) -> Column:
    """IP column ∈ CIDR, as shiftright-compare (no UDF)."""
    base, _, prefix = cidr.partition("/")
    plen = int(prefix) if prefix else 32
    base_parts = [int(p) for p in base.split(".")]
    base_long = (
        base_parts[0] * 16777216 + base_parts[1] * 65536 + base_parts[2] * 256 + base_parts[3]
    )
    valid = col.rlike(_IPV4_RE)
    if plen == 0:
        return valid
    shift = 32 - plen
    return valid & (
        F.shiftright(_ip_to_long(col), shift) == F.lit(base_long >> shift)
    )


def _ipv6_match_udf(cidrs: list[str], public: bool):
    """Arrow-batched IPv6 membership (stdlib ipaddress): real parse of
    compressed/expanded forms, not a heuristic. Only IPv6 addresses can
    match (IPv4 goes through the JVM bitmask path); ``public`` matches
    any valid v6 address NOT in the local/private set."""

    @pandas_udf("boolean")
    def match(s: pd.Series) -> pd.Series:
        import ipaddress

        nets = [ipaddress.ip_network(c) for c in cidrs]
        negs = [ipaddress.ip_network(c) for c in _LOCAL_OR_PRIVATE
                if ":" in c] if public else []

        def one(v):
            if v is None or ":" not in v:
                return False
            try:
                ip = ipaddress.ip_address(v)
            except ValueError:
                return False
            if ip.version != 6:
                return False
            if public:
                return not any(ip in n for n in negs)
            return any(ip in n for n in nets)

        return s.map(one)

    return match


def _network_cond(col: Column, spec) -> Column:
    specs = spec if isinstance(spec, list) else [spec]
    cidrs: list[str] = []
    public = False
    for s in specs:
        if s == "public":
            public = True
        elif s in NAMED_NETWORKS:
            cidrs.extend(NAMED_NETWORKS[s])
        else:
            cidrs.append(s)
    v4 = [c for c in cidrs if ":" not in c]
    v6 = [c for c in cidrs if ":" in c]
    conds = [_cidr_match(col, c) for c in v4]
    if v6:
        conds.append(_ipv6_match_udf(v6, public=False)(col))
    if public:
        # v4 public: valid dotted-quad not in the local/private v4 set
        pub4 = col.rlike(_IPV4_RE)
        for c in (c for c in _LOCAL_OR_PRIVATE if ":" not in c):
            pub4 = pub4 & ~_cidr_match(col, c)
        conds.append(pub4)
        conds.append(_ipv6_match_udf([], public=True)(col))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


# regex patterns that are really plain substrings (no metacharacters) —
# specialize to contains, like the reference's matcher optimizer.
_REGEX_META = re.compile(r"[.^$*+?()\[\]{}|\\]")

_RANGE_OPS = {
    "gt": lambda c, v: c > F.lit(v),
    "gte": lambda c, v: c >= F.lit(v),
    "lt": lambda c, v: c < F.lit(v),
    "lte": lambda c, v: c <= F.lit(v),
}


def compile_condition(
    cond: dict,
    df: DataFrame | None = None,
    resolver: Resolver | None = None,
) -> Column:
    """Compile a condition config dict to a boolean Column.

    ``df`` (optional) enables schema-aware compilation: attrs-map
    fallback for unknown fields and array-aware ``contains``.
    """
    if resolver is None:
        resolver = make_resolver(df)
    if not isinstance(cond, dict) or len(cond) == 0:
        raise ValueError(f"invalid condition: {cond!r}")

    terms: list[Column] = []
    for key, body in cond.items():
        k = key.lower()
        if k == "equals":
            for field, val in body.items():
                terms.append(resolver(field) == F.lit(val))
        elif k == "contains":
            for field, val in body.items():
                c = resolver(field)
                if _is_array_field(df, field):
                    terms.append(
                        F.exists(c, lambda x: x.contains(str(val)))
                    )
                else:
                    terms.append(c.contains(str(val)))
        elif k == "regexp":
            for field, pat in body.items():
                c = resolver(field)
                if not _REGEX_META.search(pat):
                    terms.append(c.contains(pat))  # literal specialization
                else:
                    terms.append(c.rlike(pat))
        elif k == "range":
            for field, ops in body.items():
                c = resolver(field)
                for op, val in ops.items():
                    if op not in _RANGE_OPS:
                        raise ValueError(f"bad range op {op!r}")
                    terms.append(_RANGE_OPS[op](c, val))
        elif k == "has_fields":
            fields = body if isinstance(body, list) else [body]
            for field in fields:
                terms.append(resolver(field).isNotNull())
        elif k == "network":
            for field, spec in body.items():
                terms.append(_network_cond(resolver(field), spec))
        elif k == "or":
            sub = [compile_condition(c, df, resolver) for c in body]
            col = sub[0]
            for s in sub[1:]:
                col = col | s
            terms.append(col)
        elif k == "and":
            sub = [compile_condition(c, df, resolver) for c in body]
            col = sub[0]
            for s in sub[1:]:
                col = col & s
            terms.append(col)
        elif k == "not":
            terms.append(~compile_condition(body, df, resolver))
        else:
            raise ValueError(f"unknown condition {key!r}")

    out = terms[0]
    for t in terms[1:]:
        out = out & t
    return out


# ---------------------------------------------------------------------------
# the per-row guard: one never-null mask, applied by masked assignment
# ---------------------------------------------------------------------------


def guard_mask(cond: dict, df: DataFrame, active: Column | None = None) -> Column:
    """``cond`` ANDed with any enclosing mask; a null condition value
    reads as false, like the reference's per-event check."""
    mask = F.coalesce(compile_condition(cond, df), F.lit(False))
    return mask if active is None else active & mask


def _cast_allows(df: DataFrame, check: str, src: T.DataType,
                 dst: T.DataType) -> bool:
    """Catalyst's ``Cast.<check>(src, dst)``, asked of two dtypes (no
    analysis runs, so none can fail)."""
    spark = df.sparkSession
    parse = spark._jsparkSession.parseDataType
    cast = spark._jvm.org.apache.spark.sql.catalyst.expressions.Cast
    return getattr(cast, check)(parse(src.json()), parse(dst.json()))


def try_cast_or_null(df: DataFrame, col: Column, src: T.DataType,
                     dst: T.DataType) -> Column:
    """``col`` as ``dst``: a try_cast when ``Cast.canTryCast(src, dst)``
    allows one, else null."""
    if _cast_allows(df, "canTryCast", src, dst):
        return col.try_cast(dst)
    return F.lit(None).cast(dst)


def keep_old(df: DataFrame, ok: Column, expr: Column, name: str,
             ndt: T.DataType | None) -> Column:
    """CASE WHEN ok THEN expr (of type ``ndt``) ELSE the current value
    of column ``name`` (null when there is none).

    The types are merged explicitly: ANSI coercion of a mismatched pair
    may cast the wrong side (a string/bigint pair casts the string,
    which explodes on the very rows the guard protects). A new value
    that up-casts to a non-string old type widens the column (an int
    onto a bigint or double column keeps the old values whole);
    otherwise the old value is try_cast to the new type, or nulled."""
    new = F.when(ok, expr)
    if name not in df.columns:
        return new
    odt = df.schema[name].dataType
    old = F.col(f"`{name}`")
    if odt == ndt or isinstance(odt, T.NullType) or isinstance(ndt, T.NullType):
        return new.otherwise(old)
    if not isinstance(odt, T.StringType) and _cast_allows(df, "canUpCast", ndt, odt):
        return F.when(ok, expr.cast(odt)).otherwise(old)
    return new.otherwise(try_cast_or_null(df, old, odt, ndt))


def masked_assigns(df: DataFrame, ok: Column,
                   assigns: dict[str, Column]) -> dict[str, Column]:
    """``{name: CASE WHEN ok THEN expr ELSE <the old value>}`` for each
    ``name: expr`` (see :func:`keep_old`). The new values' types come
    from one analysis of ``df``, made only when a target already
    exists."""
    have = [n for n in assigns if n in df.columns]
    ndts = df.select(*(assigns[n] for n in have)).schema.fields if have else []
    types = {n: f.dataType for n, f in zip(have, ndts)}
    return {n: keep_old(df, ok, e, n, types.get(n)) for n, e in assigns.items()}


def assign_where(df: DataFrame, active: Column | None,
                 assigns: dict[str, Column]) -> DataFrame:
    """``df.withColumns(assigns)`` on the rows where ``active`` holds
    (every row when it is None); the other rows keep their values."""
    if active is not None:
        assigns = masked_assigns(df, active, assigns)
    return df.withColumns(assigns) if assigns else df


def once(df: DataFrame, name: str, col: Column) -> DataFrame:
    """``df.withColumn(name, col)``, computed once per row whatever
    later reads it.

    A plain projected column is not enough for an expensive ``col`` (a
    parse regex, a Python UDF). ``CollapseProject`` leaves a
    multi-referenced column alone, but predicate pushdown does not: a
    filter on anything derived from ``col`` is pushed below the
    projection with ``col`` substituted into it, once per reference,
    and the projection still computes its own copy (a ``drop_event`` on
    a dissected field ran the dissect regex three times per row).

    Here ``col`` goes through a one-element ``explode(array(col))``, a
    Generate node. Catalyst pushes through a Generate only the
    conjuncts that do not read its output, so a filter on a parsed
    field stays above the single evaluation, while a filter on any
    other column still reaches the scan. The row count is unchanged: the
    array always holds exactly one element, a null one included."""
    return df.withColumn(name, F.explode(F.array(col)))
