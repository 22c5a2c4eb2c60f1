"""Scalar-mutation / filter processors (reference: ``libbeat/processors/actions``).

Every processor is a whole-column expression — JVM-side, inside
whole-stage codegen — except the few that genuinely need Python
(gzip decompression, byte-exact truncation, community-id), which run as
Arrow-batched pandas UDFs (never per-row Spark UDFs).

Open-schema fields (Beats' nested MapStr long tail) land in the
``attrs: map<string,string>`` column; hot fields are real columns.
``fields_under_root=True`` writes real columns instead — mirroring the
reference's add_fields target semantics
(``libbeat/processors/actions/add_fields.go:50-87``).
"""

from __future__ import annotations

import base64 as _b64
import functools as _functools
import gzip as _gzip
import hashlib as _hashlib
import socket as _socket
import struct as _struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from beats_spark.conditions import assign_where, keep_old
from beats_spark.fmtstr import compile_fmtstr
from beats_spark.processors.base import MASK_PREFIX, Proc, Project, register, scoped
from beats_spark.skew import salted_topk

ATTRS = "attrs"


def _merge_attrs(df: DataFrame, kv: dict[str, str]) -> Column:
    """Merge literal key/values into the attrs map (deep-merge analogue)."""
    new_map = F.create_map(*[x for k, v in kv.items() for x in (F.lit(k), F.lit(str(v)))])
    if ATTRS in df.columns:
        return F.map_concat(
            F.map_filter(F.col(ATTRS), lambda k, _: ~k.isin(*list(kv))), new_map
        )
    return new_map


@register("add_fields")
class AddFields(Project):
    """Constant fields under ``target`` (default ``fields``) → attrs map
    keys ``target.k``; ``fields_under_root`` → top-level columns.
    Ref: actions/add_fields.go:50-87."""

    def __init__(self, fields: dict, target: str = "fields", fields_under_root: bool = False):
        self.fields = fields
        self.target = "" if fields_under_root else target

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.target == "":
            return {k: F.lit(v) for k, v in self.fields.items()}
        kv = {f"{self.target}.{k}" if self.target else k: v for k, v in self.fields.items()}
        return {ATTRS: _merge_attrs(df, kv)}


@register("add_labels")
class AddLabels(AddFields):
    """add_fields fixed to the ``labels`` target with flattened keys.
    Ref: actions/add_labels.go."""

    def __init__(self, labels: dict):
        flat: dict[str, str] = {}

        def flatten(prefix: str, obj):
            if isinstance(obj, dict):
                for k, v in obj.items():
                    flatten(f"{prefix}.{k}" if prefix else k, v)
            elif isinstance(obj, list):
                for i, v in enumerate(obj):
                    flatten(f"{prefix}.{i}", v)
            else:
                flat[prefix] = obj

        flatten("", labels)
        super().__init__(fields=flat, target="labels")


@register("add_tags")
class AddTags(Project):
    """Append deduplicated tags to an array column (ref: actions/add_tags.go:75)."""

    def __init__(self, tags: list[str], target: str = "tags"):
        self.tags = tags
        self.target = target

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        existing = (
            F.coalesce(F.col(self.target), F.array())
            if self.target in df.columns
            else F.array()
        )
        return {self.target: F.array_union(existing, F.array(*[F.lit(t) for t in self.tags]))}


@register("copy_fields")
class CopyFields(Project):
    """Copy from→to (ref: actions/copy_fields.go:71)."""

    def __init__(self, fields: list[dict], fail_on_error: bool = True, ignore_missing: bool = False):
        self.fields = fields
        self.ignore_missing = ignore_missing

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out = {}
        for pair in self.fields:
            src = pair["from"]
            if src not in df.columns and self.ignore_missing:
                continue
            out[pair["to"]] = F.col(src)
        return out


@register("rename")
class Rename(Project):
    """Move fields; target must not exist (ref: actions/rename.go:75)."""

    def __init__(self, fields: list[dict], ignore_missing: bool = False, fail_on_error: bool = True):
        self.fields = fields
        self.ignore_missing = ignore_missing
        self.fail_on_error = fail_on_error

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        # every pair reads the guard as it was before the first move
        return scoped(df, active, self, self._move)

    def _move(self, df: DataFrame, active: Column | None) -> DataFrame:
        for pair in self.fields:
            src, dst = pair["from"], pair["to"]
            if src not in df.columns:
                if self.ignore_missing:
                    continue
                if self.fail_on_error:
                    raise ValueError(f"rename: missing source field {src!r}")
                continue
            if dst in df.columns and self.fail_on_error:
                raise ValueError(f"rename: target field {dst!r} already exists")
            if active is None:
                df = df.withColumnRenamed(src, dst)
            else:  # a per-row move
                df = assign_where(df, active, {dst: F.col(src), src: F.lit(None)})
        return df


@register("replace")
class Replace(Project):
    """Regex replacement list (ref: actions/replace.go:75)."""

    def __init__(self, fields: list[dict], ignore_missing: bool = False, fail_on_error: bool = True):
        self.fields = fields
        self.ignore_missing = ignore_missing

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out = {}
        for spec in self.fields:
            f = spec["field"]
            if f not in df.columns and self.ignore_missing:
                continue
            out[f] = F.regexp_replace(F.col(f), spec["pattern"], spec["replacement"])
        return out


@register("truncate_fields")
class TruncateFields(Project):
    """Truncate to max_characters (JVM substring) or max_bytes (pandas
    UDF, rune-safe utf-8 cut). Ref: actions/truncate_fields.go:84."""

    def __init__(self, fields: list[str], max_characters: int | None = None,
                 max_bytes: int | None = None, fail_on_error: bool = True,
                 ignore_missing: bool = False):
        if (max_characters is None) == (max_bytes is None):
            raise ValueError("exactly one of max_characters/max_bytes required")
        self.fields = fields
        self.max_characters = max_characters
        self.max_bytes = max_bytes
        self.ignore_missing = ignore_missing
        # fail_on_error: a null/non-string value truncates to null (row
        # kept) in both modes — no event-rollback in the columnar model.

    def _present(self, df: DataFrame) -> list[str]:
        if self.ignore_missing:
            return [f for f in self.fields if f in df.columns]
        return list(self.fields)

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.max_characters is not None:
            n = self.max_characters
            return {f: F.substring(F.col(f), 1, n) for f in self._present(df)}

        nbytes = self.max_bytes

        @pandas_udf(T.StringType())
        def cut(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: v
                if v is None or len(v.encode("utf-8")) <= nbytes
                else v.encode("utf-8")[:nbytes].decode("utf-8", errors="ignore")
            )

        return {f: cut(F.col(f)) for f in self._present(df)}


@register("extract_field")
class ExtractField(Project):
    """Split on separator, take Nth token (ref: actions/extract_field.go:75)."""

    def __init__(self, field: str, separator: str, index: int, target: str | None = None):
        self.field = field
        self.separator = separator
        self.index = index
        self.target = target or field

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        import re as _re

        return {
            self.target: F.split(F.col(self.field), _re.escape(self.separator)).getItem(self.index)
        }


@register("urldecode")
class UrlDecode(Project):
    """URL-unescape from→to (ref: libbeat/processors/urldecode/urldecode.go:75-101)."""

    def __init__(self, fields: list[dict], ignore_missing: bool = False, fail_on_error: bool = True):
        self.fields = fields
        self.ignore_missing = ignore_missing
        # fail_on_error: try_url_decode yields null on bad escapes (row
        # kept) in both modes — no event-rollback in the columnar model.

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        return {
            p.get("to", p["from"]): F.try_url_decode(F.col(p["from"]))
            for p in self.fields
            if not (self.ignore_missing and p["from"] not in df.columns)
        }


@register("decode_base64_field")
class DecodeBase64Field(Project):
    """base64 → utf-8 string (ref: actions/decode_base64_field.go:75)."""

    def __init__(self, field: dict, ignore_missing: bool = False, fail_on_error: bool = True):
        self.field = field
        self.ignore_missing = ignore_missing
        # fail_on_error: invalid base64 decodes to null (row kept).

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.ignore_missing and self.field["from"] not in df.columns:
            return {}
        return {
            self.field.get("to", self.field["from"]): F.unbase64(
                F.col(self.field["from"])
            ).cast("string")
        }


@register("decompress_gzip_field")
class DecompressGzipField(Project):
    """gunzip a binary/base64 field — pandas UDF (no JVM builtin).
    Ref: actions/decompress_gzip_field.go:69."""

    def __init__(self, field: dict, ignore_missing: bool = False, fail_on_error: bool = True):
        self.field = field
        self.ignore_missing = ignore_missing
        # fail_on_error: a corrupt stream decompresses to null (row kept).

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.ignore_missing and self.field["from"] not in df.columns:
            return {}
        src = self.field["from"]
        is_binary = any(
            f.name == src and f.dataType.typeName() == "binary" for f in df.schema.fields
        )

        @pandas_udf(T.StringType())
        def gunzip(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                try:
                    raw = v if isinstance(v, (bytes, bytearray)) else _b64.b64decode(v)
                    return _gzip.decompress(raw).decode("utf-8", errors="replace")
                except Exception:
                    return None

            return s.map(one)

        col = F.col(src) if is_binary else F.col(src)
        return {self.field.get("to", src): gunzip(col)}


@register("detect_mime_type")
class DetectMimeType(Project):
    """Magic-byte MIME sniff as a JVM CASE-WHEN chain (no UDF).
    Ref: actions/detect_mime_type.go:54."""

    _MAGIC = [
        ("\x1f\x8b", "application/gzip"),
        ("%PDF", "application/pdf"),
        ("\x89PNG", "image/png"),
        ("\xff\xd8\xff", "image/jpeg"),
        ("GIF8", "image/gif"),
        ("PK\x03\x04", "application/zip"),
        ("<?xml", "text/xml"),
        ("{", "application/json"),
        ("[", "application/json"),
    ]

    def __init__(self, field: str, target: str = "mime_type"):
        self.field = field
        self.target = target

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        c = F.col(self.field).cast("string")
        expr = None
        for magic, mime in self._MAGIC:
            cond = c.startswith(magic)
            expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
        return {self.target: expr.otherwise(F.when(c.isNotNull(), "text/plain"))}


_CONVERT_TYPES = {
    "string": T.StringType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
}


@register("convert")
class Convert(Project):
    """Typed cast list; modes copy (keep source) / rename (drop source).
    Ref: libbeat/processors/convert/convert.go:74, config.go:35-99."""

    def __init__(self, fields: list[dict], ignore_missing: bool = False,
                 fail_on_error: bool = True, mode: str = "copy"):
        self.fields = fields
        self.mode = mode
        self.ignore_missing = ignore_missing
        self.fail_on_error = fail_on_error

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out, types, failed = {}, {}, []
        for spec in self.fields:
            src = spec["from"]
            if src not in df.columns and self.ignore_missing:
                continue
            dst = spec.get("to", src)
            typ = spec.get("type", "string")
            col = F.col(src)
            if typ == "ip":
                col = F.when(
                    col.rlike(r"^(\d{1,3}\.){3}\d{1,3}$") | col.contains(":"), col
                )
                types[dst] = df.schema[src].dataType
            else:
                col = col.try_cast(_CONVERT_TYPES[typ])
                types[dst] = _CONVERT_TYPES[typ]
            out[dst] = col
            if typ != "string":  # a cast to string cannot fail
                failed.append(F.col(src).isNotNull() & col.isNull())
        if not (self.fail_on_error and failed):
            return out  # a failed conversion nulls only its own target
        # convert.go reverts the event: a row with any failed conversion
        # keeps every target's value from before the processor
        ok = ~_functools.reduce(Column.__or__, failed)
        return {dst: keep_old(df, ok, col, dst, types[dst])
                for dst, col in out.items()}

    def drops(self, df: DataFrame) -> list[str]:
        if self.mode != "rename":
            return []
        return [s["from"] for s in self.fields if s.get("to") and s.get("to") != s["from"]]


@register("timestamp")
class Timestamp(Project):
    """Parse a string field into the event timestamp with layout list.
    Layouts are Java patterns plus UNIX / UNIX_MS keywords.
    Ref: libbeat/processors/timestamp/timestamp.go:107."""

    def __init__(self, field: str, layouts: list[str], target: str = "ts",
                 timezone: str = "UTC", ignore_missing: bool = False,
                 ignore_failure: bool = False):
        self.field = field
        self.layouts = layouts
        self.target = target
        self.timezone = timezone
        self.ignore_missing = ignore_missing
        # ignore_failure: an unparseable value yields a null timestamp
        # (row kept) in both modes — no event-abort in the columnar model.

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.ignore_missing and self.field not in df.columns:
            return {}
        c = F.col(self.field)
        attempts = []
        for layout in self.layouts:
            if layout == "UNIX":
                attempts.append(F.to_timestamp(F.from_unixtime(c.cast("double"))))
            elif layout == "UNIX_MS":
                attempts.append(F.timestamp_millis(c.cast("bigint")))
            elif layout == "ISO8601":
                attempts.append(F.to_timestamp(c))
            else:
                attempts.append(F.try_to_timestamp(c, F.lit(layout)))
        col = F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]
        if self.timezone not in ("UTC", "Etc/UTC"):
            col = F.to_utc_timestamp(col, self.timezone)
        return {self.target: col}


@register("add_locale")
class AddLocale(Project):
    """Add the configured timezone (ref: add_locale/add_locale.go:89).
    format="offset" renders the zone's current UTC offset (+HH:MM, the
    reference default); "abbreviation" renders the zone name. The value
    is process-static in the reference (host locale at startup), so a
    driver-computed literal is the faithful analogue."""

    def __init__(self, format: str = "offset", timezone: str = "UTC"):
        if format not in ("offset", "abbreviation"):
            raise ValueError(f"add_locale format must be offset|abbreviation, got {format!r}")
        self.format = format
        self.timezone = timezone

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.format == "abbreviation":
            return {"event_timezone": F.lit(self.timezone)}
        from datetime import datetime, timezone as _tz
        from zoneinfo import ZoneInfo

        off = datetime.now(_tz.utc).astimezone(ZoneInfo(self.timezone)).utcoffset()
        total = int(off.total_seconds())
        sign = "+" if total >= 0 else "-"
        hh, mm = divmod(abs(total) // 60, 60)
        return {"event_timezone": F.lit(f"{sign}{hh:02d}:{mm:02d}")}


@register("add_id")
class AddId(Project):
    """Event id for the ES ``_id`` meta hint. The reference generates a
    random ID (add_id/add_id.go:64); at 10^12 rows reproducibility
    matters more, so we derive ``sha2(doc_id)`` when a natural key
    exists and fall back to ``uuid()``."""

    def __init__(self, target_field: str = "meta_id", key_field: str | None = None):
        self.target = target_field
        self.key_field = key_field

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        key = self.key_field or ("doc_id" if "doc_id" in df.columns else None)
        if key:
            return {self.target: F.sha2(F.col(key).cast("string"), 256)}
        return {self.target: F.expr("uuid()")}


@register("fingerprint")
class Fingerprint(Project):
    """Hash of selected field values, ``|``-joined in given order.
    methods: md5/sha1/sha256/sha384/sha512/xxhash (xxhash → xxhash64
    bigint rendered as hex). Ref: fingerprint/fingerprint.go:66."""

    ENCODINGS = ("hex", "base64", "base32")

    def __init__(self, fields: list[str], method: str = "sha256",
                 target_field: str = "fingerprint", encoding: str = "hex"):
        if encoding not in self.ENCODINGS:
            raise ValueError(
                f"fingerprint encoding must be one of {self.ENCODINGS}, "
                f"got {encoding!r}"
            )
        self.fields = fields
        self.method = method
        self.target = target_field
        self.encoding = encoding

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        joined = F.concat_ws("|", *[F.col(f).cast("string") for f in self.fields])
        if self.method == "md5":
            col = F.md5(joined)
        elif self.method == "sha1":
            col = F.sha1(joined)
        elif self.method in ("sha256", "sha384", "sha512"):
            col = F.sha2(joined, int(self.method[3:]))
        elif self.method == "xxhash":
            col = F.lower(F.hex(F.xxhash64(joined)))
        else:
            raise ValueError(f"unknown fingerprint method {self.method!r}")
        # encode.go: hex (default) / base64 / base32 over the raw digest
        if self.encoding == "base64":
            col = F.base64(F.unhex(col))
        elif self.encoding == "base32":
            @pandas_udf(T.StringType())
            def b32(hexes: pd.Series) -> pd.Series:
                return hexes.map(
                    lambda h: None if h is None
                    else _b64.b32encode(bytes.fromhex(h)).decode("ascii")
                )
            col = b32(col)
        return {self.target: col}


@register("add_formatted_index")
class AddFormattedIndex(Project):
    """Compute the raw index (sink) from a format string into ``sink``.
    Ref: add_formatted_index/add_formatted_index.go:43."""

    def __init__(self, index: str, target: str = "sink", ts_col: str = "ts"):
        self.index = index
        self.target = target
        self.ts_col = ts_col

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        from beats_spark.conditions import make_resolver

        return {self.target: compile_fmtstr(self.index, make_resolver(df), self.ts_col)}


@register("timeseries_instance")
class TimeseriesInstance(Project):
    """Stable hash of dimension fields (ref: timeseries/timeseries.go:68-90)."""

    def __init__(self, fields: list[str], target: str = "timeseries_instance"):
        self.fields = fields
        self.target = target

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        return {self.target: F.xxhash64(*[F.col(f) for f in self.fields])}


@register("drop_event")
class DropEvent(Proc):
    """Drop rows (only useful with ``when``; ref: actions/drop_event.go:40-43)."""

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return df.filter(F.lit(False) if active is None else ~active)


@register("drop_fields")
class DropFields(Project):
    """Remove listed fields; attrs-map keys are map_filter'ed out.
    Ref: actions/drop_fields.go:68."""

    def __init__(self, fields: list[str], ignore_missing: bool = True):
        self.fields = fields
        self.ignore_missing = ignore_missing

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if not self.ignore_missing:
            missing = [
                f for f in self.fields
                if f not in df.columns and ATTRS not in df.columns
            ]
            if missing:
                raise ValueError(f"drop_fields: missing fields {missing!r}")
        attr_keys = [f for f in self.fields if f not in df.columns and ATTRS in df.columns]
        if not attr_keys:
            return {}
        return {ATTRS: F.map_filter(F.col(ATTRS), lambda k, _: ~k.isin(*attr_keys))}

    def drops(self, df: DataFrame) -> list[str]:
        return [f for f in self.fields if f in df.columns]


@register("include_fields")
class IncludeFields(Project):
    """Project to whitelist; timestamp/type-ish columns always kept.
    Ref: actions/include_fields.go:69."""

    ALWAYS = ("ts", "doc_id", "source", "part_id", "offset", "tokens", "n_tok")

    def __init__(self, fields: list[str]):
        self.fields = fields

    def drops(self, df: DataFrame) -> list[str]:
        return [
            c for c in df.columns
            if c not in self.fields and c not in self.ALWAYS
            and not c.startswith(MASK_PREFIX)  # an enclosing scope's guard
        ]


@register("rate_limit")
class RateLimit(Proc):
    """Token-bucket rate limit re-expressed as windowed top-k: at most
    ``limit`` rows per key-group per time window. Wall-clock token
    refill has no batch equivalent; the windowed form preserves the
    reference's contract (≤ limit events per period per key).
    Ref: libbeat/processors/ratelimit/rate_limit.go:102, token_bucket.go."""

    def __init__(self, limit: str | int, fields: list[str] | None = None,
                 ts_col: str = "ts", order_col: str = "offset",
                 salt_buckets: int = 1, algorithm: str = "windowed",
                 burst_multiplier: float = 1.0):
        # limit like "100/m", "1/s", or a bare per-minute int
        if isinstance(limit, int):
            self.n, self.period = limit, "1 minute"
        else:
            n, _, unit = str(limit).partition("/")
            self.n = int(n)
            self.period = {"s": "1 second", "m": "1 minute", "h": "1 hour"}.get(unit, "1 minute")
        if algorithm not in ("windowed", "token_bucket"):
            raise ValueError(f"algorithm must be windowed|token_bucket, got {algorithm!r}")
        self.limit = limit
        self.fields = fields or []
        self.ts_col = ts_col
        self.order_col = order_col
        self.salt_buckets = salt_buckets
        self.algorithm = algorithm
        self.burst_multiplier = burst_multiplier

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        if self.algorithm == "token_bucket":
            # the reference's actual algorithm (token_bucket.go), event-time
            # driven — see beats_spark.token_bucket for semantics
            from beats_spark.token_bucket import token_bucket

            return token_bucket(
                df, self.limit, self.fields, ts_col=self.ts_col,
                order_col=self.order_col, burst_multiplier=self.burst_multiplier,
                active=active,
            )
        keys = [F.col(f) for f in self.fields]
        order_col = self.order_col if self.order_col in df.columns else self.ts_col
        # salt_buckets > 1 is the skew-safe exact top-k: a hot (window,
        # key) group otherwise ranks all its rows in ONE task — the north
        # rule's salted hot-source case (see beats_spark.skew)
        return salted_topk(
            df, [F.window(F.col(self.ts_col), self.period), *keys],
            order_col, self.n, self.salt_buckets, rn_col="_rl_rn", active=active,
        ).drop("_rl_rn")


@register("add_network_direction")
class AddNetworkDirection(Project):
    """Classify flows inbound/outbound/internal/external vs internal
    networks — pure CIDR bitmask expressions, no UDF.
    Ref: actions/add_network_direction.go:66."""

    def __init__(self, source: str, destination: str, target: str = "direction",
                 internal_networks: list[str] | None = None):
        self.source = source
        self.destination = destination
        self.target = target
        self.networks = internal_networks or ["private"]

    def _internal(self, col: Column) -> Column:
        # family-aware: v4 via JVM bitmask, v6 via the Arrow matcher
        # (conditions._network_cond handles named ranges + mixed lists)
        from beats_spark.conditions import _network_cond

        return _network_cond(col, list(self.networks))

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        src_int = self._internal(F.col(self.source))
        dst_int = self._internal(F.col(self.destination))
        return {
            self.target: F.when(src_int & dst_int, "internal")
            .when(src_int, "outbound")
            .when(dst_int, "inbound")
            .otherwise("external")
        }


@register("registered_domain")
class RegisteredDomain(Project):
    """eTLD+1 extraction with a compact built-in public-suffix subset
    (the full list would ship as a broadcast file in production).
    Ref: registered_domain/registered_domain.go:76."""

    _TWO_LEVEL = {
        "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
        "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
        "co.nz", "co.za", "com.sg", "com.tr",
    }

    def __init__(self, field: str, target_field: str = "registered_domain"):
        self.field = field
        self.target = target_field

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        two_level = self._TWO_LEVEL

        @pandas_udf(T.StringType())
        def etld1(s: pd.Series) -> pd.Series:
            def one(v):
                if not v:
                    return None
                parts = v.lower().rstrip(".").split(".")
                if len(parts) < 2:
                    return None
                if len(parts) >= 3 and ".".join(parts[-2:]) in two_level:
                    return ".".join(parts[-3:])
                return ".".join(parts[-2:])

            return s.map(one)

        return {self.target: etld1(F.col(self.field))}


@register("community_id")
class CommunityId(Project):
    """RFC community-id v1 flow hash (sha1 over the normalized 5-tuple,
    base64, "1:" prefix) — Arrow-batched pandas UDF.
    Ref: communityid/communityid.go:95."""

    def __init__(self, source_ip: str = "source_ip", source_port: str = "source_port",
                 destination_ip: str = "destination_ip",
                 destination_port: str = "destination_port",
                 transport: str = "transport", target: str = "network_community_id",
                 seed: int = 0):
        self.cols = (source_ip, source_port, destination_ip, destination_port, transport)
        self.target = target
        self.seed = seed

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        seed = self.seed
        protos = {"icmp": 1, "tcp": 6, "udp": 17, "icmp6": 58, "sctp": 132}

        @pandas_udf(T.StringType())
        def cid(sip: pd.Series, spt: pd.Series, dip: pd.Series, dpt: pd.Series,
                tr: pd.Series) -> pd.Series:
            def one(row):
                s, sp, d, dp, t = row
                if s is None or d is None or t is None:
                    return None
                try:
                    proto = protos.get(str(t).lower())
                    if proto is None:
                        return None
                    saddr = _socket.inet_aton(s)
                    daddr = _socket.inet_aton(d)
                    sp_i, dp_i = int(sp or 0), int(dp or 0)
                    if (saddr, sp_i) > (daddr, dp_i):
                        saddr, daddr, sp_i, dp_i = daddr, saddr, dp_i, sp_i
                    data = (
                        _struct.pack("!H", seed) + saddr + daddr
                        + _struct.pack("BBHH", proto, 0, sp_i, dp_i)
                    )
                    return "1:" + _b64.b64encode(_hashlib.sha1(data).digest()).decode()
                except OSError:
                    return None

            return pd.Series(map(one, zip(sip, spt, dip, dpt, tr)))

        return {self.target: cid(*[F.col(c) for c in self.cols])}
