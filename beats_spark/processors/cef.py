"""CEF (Common Event Format) codec — ``decode_cef`` processor parity.

Reference: ``x-pack/filebeat/processors/decode_cef/decode_cef.go:60-140``
(locate ``CEF:`` anywhere in the field — leading syslog data ignored —
then header + extensions, optional ECS field mapping) and the ragel
grammar ``cef/cef.rl``:

* header = 7 pipe-delimited values; ``\\|`` and ``\\\\`` are the only
  header escapes; severity is bare ``[A-Za-z0-9-]*``.
* extensions = ``key=value`` pairs; keys match
  ``[A-Za-z0-9_][A-Za-z0-9_.,\\[\\]]*`` (laxer than the spec, matching
  practice); ``\\=`` and ``\\\\`` are the only value escapes; values
  keep internal spaces, trailing whitespace is trimmed; a value with an
  unescaped ``=`` malforms THAT pair only — the parser recovers at the
  next valid ``key=`` (``gobble_extension``).
* shortened keys translate to full ArcSight names with declared types
  (``cef/keys.go``; ``WithFullExtensionNames`` — the processor always
  passes it, decode_cef.go:89).

Spark-first shape: the header is ONE regex evaluation per row
(``dissect.captures``); extensions are ONE ``regexp_extract_all``
whose lazy value + lookahead reproduces the grammar's value/recovery
semantics, folded to a last-wins map JVM-side. No Python UDF
anywhere; every expression is whole-stage-codegen-able and narrow — at
10^12 rows the plan is a pure projection with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where, once
from beats_spark.dissect import captures, flag_failures

from beats_spark.processors.base import Proc, register

CEF_PARSE_ERROR_FLAG = "_cef_parse_failure"

#: header: CEF:version|vendor|product|device_version|class_id|name|severity|ext
#: ``\\.`` keeps escape pairs opaque so an escaped pipe never delimits.
_HEADER_RX = (
    r"(?s)^CEF:(\d+)\|"
    + r"((?:\\.|[^\\|])*)\|" * 5
    + r"([A-Za-z0-9-]*)\|?(.*)$"
)

#: one extension pair, reproducing the grammar exactly:
#: * lookbehind: a key starts at the blob start or after a literal
#:   space — the separator is ``space* " "``, ONE literal space, so a
#:   tab-preceded ``key=`` is NOT a new extension (tabNoSepMessage).
#: * value: lazy; raw ``=`` and lone ``\`` are only valid inside the
#:   two escape pairs ``\\`` / ``\=`` — anything else malforms the
#:   pair, the regex fails to match there, and the scan resumes at the
#:   next valid ``key=`` (the grammar's gobble_extension recovery:
#:   equalsInMessage, escapedPipeInExtension, malformedExtensionEscape).
#: * lookahead: the value ends one literal space before the next key
#:   (extra padding spaces stay IN the value — paddedMessage keeps
#:   3 of 4) or at end-of-string minus all trailing whitespace
#:   (crlfMessage — the extension_value_mark trim).
_EXT_TOKEN_RX = (
    r"(?:^|(?<= ))([A-Za-z0-9_][A-Za-z0-9_.,\[\]]*)="
    r"((?:\\[\\=]|[^\\=])*?)"
    r"(?= [A-Za-z0-9_][A-Za-z0-9_.,\[\]]*=|\s*$)"
)

#: shortened key → (full ArcSight name, spark type) — the commonly-seen
#: subset of cef/keys.go (same Target/Type values; the full table is
#: ~400 rows of the same shape and extends here mechanically).
CEF_KEY_TABLE: dict[str, tuple[str, str]] = {
    "act": ("deviceAction", "string"),
    "app": ("applicationProtocol", "string"),
    "cnt": ("baseEventCount", "int"),
    "dvc": ("deviceAddress", "string"),
    "dvchost": ("deviceHostName", "string"),
    "dst": ("destinationAddress", "string"),
    "dhost": ("destinationHostName", "string"),
    "dmac": ("destinationMacAddress", "string"),
    "dntdom": ("destinationNtDomain", "string"),
    "dpt": ("destinationPort", "int"),
    "dpid": ("destinationProcessId", "int"),
    "dproc": ("destinationProcessName", "string"),
    "duid": ("destinationUserId", "string"),
    "duser": ("destinationUserName", "string"),
    "dpriv": ("destinationUserPrivileges", "string"),
    "dlat": ("destinationGeoLatitude", "double"),
    "dlong": ("destinationGeoLongitude", "double"),
    "end": ("endTime", "string"),
    "eventId": ("eventId", "long"),
    "fname": ("filename", "string"),
    "fsize": ("fileSize", "int"),
    "in": ("bytesIn", "int"),
    "msg": ("message", "string"),
    "out": ("bytesOut", "int"),
    "outcome": ("eventOutcome", "string"),
    "proto": ("transportProtocol", "string"),
    "reason": ("Reason", "string"),
    "request": ("requestUrl", "string"),
    "requestMethod": ("requestMethod", "string"),
    "requestContext": ("requestContext", "string"),
    "requestClientApplication": ("requestClientApplication", "string"),
    "rt": ("deviceReceiptTime", "string"),
    "src": ("sourceAddress", "string"),
    "shost": ("sourceHostName", "string"),
    "smac": ("sourceMacAddress", "string"),
    "sntdom": ("sourceNtDomain", "string"),
    "spt": ("sourcePort", "int"),
    "spid": ("sourceProcessId", "int"),
    "sproc": ("sourceProcessName", "string"),
    "suid": ("sourceUserId", "string"),
    "suser": ("sourceUserName", "string"),
    "spriv": ("sourceUserPrivileges", "string"),
    "slat": ("sourceGeoLatitude", "double"),
    "slong": ("sourceGeoLongitude", "double"),
    "start": ("startTime", "string"),
}

#: full extension name → flat ECS-style output column + type — the
#: decode_cef.go ecsExtensionMapping subset matching the table above.
CEF_ECS_COLUMNS: dict[str, tuple[str, str]] = {
    "sourceAddress": ("source_ip", "string"),
    "sourcePort": ("source_port", "int"),
    "sourceHostName": ("source_host", "string"),
    "sourceUserName": ("source_user", "string"),
    "destinationAddress": ("destination_ip", "string"),
    "destinationPort": ("destination_port", "int"),
    "destinationHostName": ("destination_host", "string"),
    "destinationUserName": ("destination_user", "string"),
    "bytesIn": ("bytes_in", "long"),
    "bytesOut": ("bytes_out", "long"),
    "transportProtocol": ("network_transport", "string"),
    "applicationProtocol": ("network_application", "string"),
    "deviceAction": ("event_action", "string"),
    "eventId": ("cef_event_id", "long"),
    "message": ("cef_message", "string"),
    "requestUrl": ("url", "string"),
    "baseEventCount": ("event_count", "long"),
}

_HEADER_FIELDS = (
    "device_vendor",
    "device_product",
    "device_version",
    "device_event_class_id",
    "name",
)


def _unescape_header(c: Column) -> Column:
    # one pass: \\ -> \ and \| -> |  (cef.go replaceHeaderEscapes)
    return F.regexp_replace(c, r"\\([\\|])", "$1")


def _unescape_ext(c: Column) -> Column:
    # one pass: \\ -> \ and \= -> =  (cef.go replaceExtensionEscapes)
    return F.regexp_replace(c, r"\\([\\=])", "$1")


def _escape_header(c: Column) -> Column:
    return F.regexp_replace(c, r"([\\|])", r"\\$1")


def _escape_ext(c: Column) -> Column:
    return F.regexp_replace(c, r"([\\=])", r"\\$1")


def decode_cef(
    df: DataFrame,
    field: str = "message",
    target_prefix: str = "cef",
    ecs: bool = True,
    full_names: bool = True,
    flags_col: str = "log_flags",
    ignore_failure: bool = False,
    active: Column | None = None,
) -> DataFrame:
    """Decode a CEF message in ``df[field]``.

    Adds a struct column ``target_prefix`` with the seven header fields
    (version as int) and an ``extensions`` ``map<string,string>``
    (last-wins on duplicate keys, shortened keys translated to full
    ArcSight names unless ``full_names=False``), plus — with ``ecs`` —
    flat typed convenience columns (:data:`CEF_ECS_COLUMNS`). Rows
    whose field has no parseable ``CEF:`` header get a null struct and
    a ``_cef_parse_failure`` flag (unless ``ignore_failure``). Rows
    outside the mask ``active`` keep every field, unflagged.
    """
    src = F.col(field)
    # leading syslog data before the header is ignored (decode_cef.go:78)
    body = F.when(
        F.locate("CEF:", src) > 0,
        F.substring(src, F.locate("CEF:", src), 2**30),
    )
    # every header field and the ok probe read this one regex result
    df, ok, group = captures(df, "_cef_parts", body, _HEADER_RX, 8, active)
    df = df.withColumn("_cef_ok", ok)
    ok = F.col("_cef_ok")

    version = group(1).cast("int")
    header = {
        name: _unescape_header(group(i + 2))
        for i, name in enumerate(_HEADER_FIELDS)
    }
    severity = group(7)
    ext_blob = group(8)

    # the entries / dedup / map stages and every ECS column hang off
    # this one extension tokenizer result
    df = once(df, "_cef_toks", F.regexp_extract_all(ext_blob, F.lit(_EXT_TOKEN_RX), 0))
    toks = F.col("_cef_toks")
    key = lambda t: F.substring_index(t, "=", 1)  # noqa: E731  keys have no '='
    entries = F.transform(
        toks,
        lambda t: F.struct(
            key(t).alias("key"),
            _unescape_ext(
                F.substring(t, F.length(key(t)) + 2, 2**30)
            ).alias("value"),
        ),
    )
    if full_names:
        keymap = F.create_map(
            *[F.lit(x) for k, (full, _) in CEF_KEY_TABLE.items() for x in (k, full)]
        )
        entries = F.transform(
            entries,
            lambda e: F.struct(
                F.coalesce(keymap[e["key"]], e["key"]).alias("key"),
                e["value"].alias("value"),
            ),
        )
    # materialize the parsed entry structs so the quadratic dedup scan
    # below iterates a computed array, not a recomputed expression tree
    df = df.withColumn("_cef_entries", entries)
    entries = F.col("_cef_entries")
    # last-wins dedup (Go map overwrite): keep entry i only if no later
    # entry shares its key. O(n²) over ≤ ~50 in-row pairs, JVM-side.
    deduped = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.greatest(F.size(entries) - i - 1, F.lit(0))),
            lambda later: later["key"] == e["key"],
        ),
    )
    ext_map = F.map_from_entries(deduped)

    out = F.when(
        ok,
        F.struct(
            version.alias("version"),
            *[c.alias(n) for n, c in header.items()],
            severity.alias("severity"),
            ext_map.alias("extensions"),
        ),
    )
    # staged like the regex results: the ECS columns read the new struct,
    # and the masked write below must not see a half-written row
    df = once(df, "_cef_out", out)
    out_cols = {target_prefix: F.col("_cef_out")}
    if ecs:
        for full, (col_name, dtype) in CEF_ECS_COLUMNS.items():
            v = F.col("_cef_out")["extensions"][full]
            out_cols[col_name] = v.try_cast(dtype) if dtype != "string" else v
    if not ignore_failure:
        out_cols[flags_col] = flag_failures(df, ok, flags_col, CEF_PARSE_ERROR_FLAG)
    return assign_where(df, active, out_cols).drop(
        "_cef_parts", "_cef_toks", "_cef_entries", "_cef_ok", "_cef_out")


def encode_cef(
    df: DataFrame,
    version: Column | int = 0,
    device_vendor: Column | str = "",
    device_product: Column | str = "",
    device_version: Column | str = "",
    device_event_class_id: Column | str = "",
    name: Column | str = "",
    severity: Column | str = "0",
    extensions: dict[str, Column] | None = None,
    out_col: str = "message",
) -> DataFrame:
    """Render CEF lines from columns — the test/bench counterpart of
    :func:`decode_cef` (``decode ∘ encode = identity`` on every field;
    the driver query's oracle hashes that round trip). Header values
    escape ``\\`` and ``|``; extension values escape ``\\`` and ``=``.
    Extension order is the dict order. Values with trailing whitespace
    are NOT representable (the decoder trims them, per the grammar).
    """

    def lit(v):
        return v if isinstance(v, Column) else F.lit(v)

    head = F.concat_ws(
        "|",
        F.concat(F.lit("CEF:"), lit(version).cast("string")),
        *[
            _escape_header(lit(v).cast("string"))
            for v in (
                device_vendor,
                device_product,
                device_version,
                device_event_class_id,
                name,
            )
        ],
        lit(severity).cast("string"),
    )
    pairs = [
        F.concat(F.lit(k + "="), _escape_ext(v.cast("string")))
        for k, v in (extensions or {}).items()
    ]
    line = F.concat(head, F.lit("|"), F.concat_ws(" ", *pairs))
    return df.withColumn(out_col, line)


@register("decode_cef")
class DecodeCEF(Proc):
    """Registry face of :func:`decode_cef`."""

    def __init__(self, **kwargs):
        self.kwargs = kwargs

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return decode_cef(df, active=active, **self.kwargs)
