"""Vectorized dissect: positional tokenizer parse, Spark-first.

Re-implements the semantics of the reference's dissect processor
(``libbeat/processors/dissect/dissect.go:58-95,104-181`` extract,
``:184-224`` resolve, types ``:250-276``; field kinds
``field.go:190-300``; tests ``testdata/dissect_tests.json``) as a
brand-new compiler with two execution paths:

1. **Static regex path** (default, JVM whole-stage-codegen): the
   tokenizer compiles to ONE anchored, non-backtracking-in-practice
   regex (lazy captures ≡ find-next-delimiter). Each output key is a
   ``regexp_extract`` column + optional cast; appends become ``concat``.
   Used whenever the tokenizer has no indirect (``*``/``&``) keys.
2. **Pandas-UDF path** (Arrow-batched, never per-row Spark UDF): the
   positional algorithm applied per batch, producing a
   ``map<string,string>`` — required for indirect keys where output
   key NAMES are data-dependent.

Tokenizer grammar: ``%{key}``, ``%{}``/``%{?name}`` skip, ``%{+key}``
append (join = preceding delimiter, default ``" "``),``%{+key/N}``
ordered append, ``%{*k}``/``%{&k}`` pointer/indirect, ``%{key->}``
greedy right-padding, ``%{key#N}`` fixed length, ``%{key|type}`` typed
(string/integer/long/float/double/boolean/ip).

Failure semantics match the reference's processor
(``processor.go:93-105``): the row is KEPT, fields are null, and
``dissect_parsing_error`` is appended to the ``log_flags`` array.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field as dc_field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from beats_spark.conditions import assign_where, once

_TOKEN_RE = re.compile(r"%\{([^}]*)\}")
_KEY_RE = re.compile(
    r"^(?P<prefix>[+*&?]?)(?P<name>[^|/#]*?)"
    r"(?:/(?P<ordinal>\d+))?(?:\#(?P<length>\d+))?"
    r"(?:\|(?P<type>\w+))?(?P<greedy>->)?$"
)

SPARK_TYPES = {
    "string": T.StringType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "ip": T.StringType(),
}

DEFAULT_JOIN = " "
PARSE_ERROR_FLAG = "dissect_parsing_error"


@dataclass
class _Field:
    kind: str  # normal | skip | named_skip | pointer | append | indirect
    name: str
    ordinal: int = 0
    length: int | None = None
    greedy: bool = False
    dtype: str | None = None
    delim_before: str = ""
    delim_after: str = ""
    idx: int = 0  # appearance order (stable sort tiebreak)
    group: int = dc_field(default=0)  # regex capture group number


def _parse_key(raw: str, idx: int, delim_before: str) -> _Field:
    if raw == "":
        return _Field(kind="skip", name="", idx=idx, delim_before=delim_before)
    m = _KEY_RE.match(raw)
    if not m:
        raise ValueError(f"invalid dissect key {raw!r}")
    prefix = m.group("prefix")
    # greedy marker may ride on the name when no other suffix present
    name = m.group("name")
    greedy = bool(m.group("greedy"))
    if name.endswith("->"):
        name, greedy = name[:-2], True
    kind = {
        "": "normal",
        "+": "append",
        "*": "pointer",
        "&": "indirect",
        "?": "named_skip",
    }[prefix]
    if kind == "normal" and name == "":
        kind = "skip"
    return _Field(
        kind=kind,
        name=name,
        ordinal=int(m.group("ordinal") or 0),
        length=int(m.group("length")) if m.group("length") else None,
        greedy=greedy,
        dtype=m.group("type"),
        delim_before=delim_before,
        idx=idx,
    )


class DissectPattern:
    """Compiled tokenizer: fields + delimiters + (if possible) one regex."""

    def __init__(self, tokenizer: str):
        self.tokenizer = tokenizer
        matches = list(_TOKEN_RE.finditer(tokenizer))
        if not matches:
            raise ValueError("tokenizer has no %{...} keys")
        self.fields: list[_Field] = []
        pos = 0
        for i, m in enumerate(matches):
            delim_before = tokenizer[pos : m.start()]
            f = _parse_key(m.group(1), i, delim_before)
            self.fields.append(f)
            pos = m.end()
        self.trailing = tokenizer[pos:]
        for i, f in enumerate(self.fields):
            f.delim_after = (
                self.fields[i + 1].delim_before if i + 1 < len(self.fields) else self.trailing
            )
        self.has_indirect = any(f.kind in ("pointer", "indirect") for f in self.fields)
        self._regex = self._build_regex() if not self.has_indirect else None

    # ---------- static regex path ----------

    def _build_regex(self) -> str:
        parts = ["(?s)^", re.escape(self.fields[0].delim_before)]
        g = 0
        for i, f in enumerate(self.fields):
            last = i == len(self.fields) - 1
            if f.length is not None:
                parts.append(f"(.{{{f.length}}})")
            elif f.delim_after:
                parts.append("(.*?)")
            else:
                parts.append("(.*)")
            g += 1
            f.group = g
            if f.delim_after:
                d = re.escape(f.delim_after)
                parts.append(f"(?:{d})+" if f.greedy else d)
            elif last and f.length is not None:
                parts.append("$")  # trailing fixed-length must end the string
            elif last and not f.delim_after:
                parts.append("$")
        return "".join(parts)

    @property
    def regex(self) -> str | None:
        return self._regex

    def output_fields(self) -> list[_Field]:
        """Saveable fields in apply order (ordinal sort, stable)."""
        saveable = [f for f in self.fields if f.kind in ("normal", "append", "indirect")]
        return sorted(saveable, key=lambda f: (f.ordinal, f.idx))

    def output_keys(self) -> list[str]:
        seen: list[str] = []
        for f in self.output_fields():
            if f.name not in seen:
                seen.append(f.name)
        return seen

    def key_dtype(self, key: str) -> str | None:
        for f in self.fields:
            if f.name == key and f.dtype:
                return f.dtype
        return None

    def captures(self, df: DataFrame, name: str, src: Column,
                 where: Column | None = None):
        """:func:`captures` of this tokenizer's regex."""
        assert self._regex is not None
        ngroups = max((f.group for f in self.fields if f.group), default=0)
        # dissect allows (ignores) trailing text after the last delimiter;
        # the whole-line form must swallow it so only captures remain.
        rx = self._regex if self._regex.endswith("$") else self._regex + ".*"
        return captures(df, name, src, rx, ngroups, where)

    def extract_columns(self, group, trim=None) -> dict[str, Column]:
        """Static path: one Column per output key (string-typed; caller
        casts), read through the capture reader ``group`` — no further
        regex work per key. ``trim`` (Column → Column) applies to each
        CAPTURED part before append-joins, matching the reference's
        per-capture trim (dissect.go:71-73)."""
        by_key: dict[str, list[_Field]] = {}
        for f in self.output_fields():
            by_key.setdefault(f.name, []).append(f)
        read = group if trim is None else (lambda g: trim(group(g)))
        out: dict[str, Column] = {}
        for key, fs in by_key.items():
            col = read(fs[0].group)
            for f in fs[1:]:
                join = f.delim_before if f.delim_before else DEFAULT_JOIN
                col = F.concat(col, F.lit(join), read(f.group))
            out[key] = col
        return out

    # ---------- python reference implementation (UDF + oracle) ----------

    def parse(self, s: str, trim=None) -> dict[str, str] | None:
        """Positional parse of one string; None on failure. ``trim``
        (str → str) applies to each captured part before appends."""
        if s is None:
            return None
        pos = 0
        lead = self.fields[0].delim_before
        if lead:
            if not s.startswith(lead):
                return None
            pos = len(lead)
        captured: list[str] = []
        for i, f in enumerate(self.fields):
            if f.length is not None:
                if pos + f.length > len(s):
                    return None
                val = s[pos : pos + f.length]
                pos += f.length
                if f.delim_after:
                    if not s.startswith(f.delim_after, pos):
                        return None
                    pos += len(f.delim_after)
                    if f.greedy:
                        while s.startswith(f.delim_after, pos):
                            pos += len(f.delim_after)
                elif i == len(self.fields) - 1 and pos != len(s):
                    return None  # remaining data after trailing fixed-length key
            elif f.delim_after:
                nxt = s.find(f.delim_after, pos)
                if nxt < 0:
                    return None
                val = s[pos:nxt]
                pos = nxt + len(f.delim_after)
                if f.greedy:
                    while s.startswith(f.delim_after, pos):
                        pos += len(f.delim_after)
            else:
                val = s[pos:]
                pos = len(s)
            captured.append(trim(val) if trim is not None else val)

        # apply phase (ordinal-sorted, stable), mirrors resolve():
        m: dict[str, str] = {}
        refs: list[str] = []
        order = sorted(range(len(self.fields)), key=lambda i: (self.fields[i].ordinal, i))
        for i in order:
            f, val = self.fields[i], captured[i]
            if f.kind == "skip":
                continue
            if f.kind in ("named_skip", "pointer"):
                m[f.name] = val
                refs.append(f.name)
            elif f.kind == "append":
                if f.name in m:
                    join = f.delim_before if f.delim_before else DEFAULT_JOIN
                    m[f.name] = m[f.name] + join + val
                else:
                    m[f.name] = val
            elif f.kind == "indirect":
                ref = m.get(f.name)
                if ref is not None:
                    m[ref] = val
            else:  # normal
                m[f.name] = val
        for r in refs:
            m.pop(r, None)
        return m


def compile_tokenizer(tokenizer: str) -> DissectPattern:
    return DissectPattern(tokenizer)


TRIM_MODES = ("none", "left", "right", "all", "both")


def _trim_column_fn(trim_values: str, trim_chars: str):
    """Column→Column trimmer for the static path (one regexp_replace;
    anchored alternation handles mode=all in a single pass). Mirrors
    the reference's trimmer (trim.go:31-70, config.go:62-78)."""
    if trim_values in ("", "none"):
        return None
    cls = "[" + re.escape(trim_chars) + "]+"
    pats = {"left": f"^{cls}", "right": f"{cls}$",
            "all": f"^{cls}|{cls}$", "both": f"^{cls}|{cls}$"}
    pat = pats[trim_values]
    return lambda c: F.regexp_replace(c, pat, "")


def _trim_str_fn(trim_values: str, trim_chars: str):
    """str→str trimmer for the pandas-UDF path — same semantics."""
    if trim_values in ("", "none"):
        return None
    if trim_values == "left":
        return lambda s: s.lstrip(trim_chars)
    if trim_values == "right":
        return lambda s: s.rstrip(trim_chars)
    return lambda s: s.strip(trim_chars)


def _convert(col: Column, dtype: str) -> Column:
    """Typed conversion; right-trims spaces first like the reference."""
    t = SPARK_TYPES[dtype]
    trimmed = F.rtrim(col)
    if dtype == "ip":
        return F.when(
            trimmed.rlike(r"^(\d{1,3}\.){3}\d{1,3}$") | trimmed.contains(":"), trimmed
        )
    if dtype == "boolean":
        return F.when(F.lower(trimmed).isin("true", "1"), F.lit(True)).when(
            F.lower(trimmed).isin("false", "0"), F.lit(False)
        )
    return trimmed.cast(t)


def dissect(
    df: DataFrame,
    tokenizer: str,
    field: str = "message",
    target_prefix: str = "dissect",
    convert_types: bool = True,
    flags_col: str = "log_flags",
    trim_values: str = "none",
    trim_chars: str = " ",
    ignore_failure: bool = False,
    overwrite_keys: bool = True,
    active: Column | None = None,
) -> DataFrame:
    """Apply a dissect tokenizer to ``df[field]``.

    Output keys land as a struct column named ``target_prefix`` (or as
    top-level columns when ``target_prefix == ""`` — the reference's
    keys-under-root). On parse failure the row is kept, outputs are
    null, and ``dissect_parsing_error`` is appended to ``flags_col``
    (suppressed by ``ignore_failure``, processor.go:101-105).

    ``trim_values`` (none|left|right|all, config.go:35-49 +
    trim.go) trims ``trim_chars`` from each CAPTURED part before
    append-joins and type conversion. ``overwrite_keys=False`` keeps an
    existing column instead of overwriting it (mapper,
    processor.go:119-137; keys-under-root mode only — with a
    ``target_prefix`` struct there is no collision).
    Rows outside the mask ``active`` keep every field, unflagged.
    """
    if trim_values not in TRIM_MODES:
        raise ValueError(
            f"trim_values must be one of {TRIM_MODES}, got {trim_values!r}"
        )
    pat = compile_tokenizer(tokenizer)

    if pat.regex is not None:
        # ONE regex evaluation per row total, independent of key count
        parts_col = "_dissect_parts"
        df, ok, group = pat.captures(df, parts_col, F.col(field), active)
        raw_cols = pat.extract_columns(
            group, trim=_trim_column_fn(trim_values, trim_chars))
        out_cols: dict[str, Column] = {}
        for key, col in raw_cols.items():
            dtype = pat.key_dtype(key)
            if convert_types and dtype and dtype != "string":
                col = _convert(col, dtype)
            out_cols[key] = F.when(ok, col)
        if not overwrite_keys:
            out_cols = {k: c for k, c in out_cols.items() if k not in df.columns}
        if target_prefix:
            out_cols = {target_prefix: F.when(
                ok, F.struct(*[c.alias(k) for k, c in out_cols.items()]))}
        drop_cols = [parts_col]
    else:
        # indirect keys → data-dependent key names → map<string,string>
        # via an Arrow-batched pandas UDF (no per-row Spark UDF).
        parse = pat.parse
        trim_s = _trim_str_fn(trim_values, trim_chars)

        @pandas_udf(T.MapType(T.StringType(), T.StringType()))
        def dissect_map(s: pd.Series) -> pd.Series:
            return s.map(lambda v: parse(v, trim=trim_s))

        # inactive rows feed the UDF a null, so it skips them
        src = F.col(field) if active is None else F.when(active, F.col(field))
        df = once(df, "_dissect_map", dissect_map(src))
        ok = F.col("_dissect_map").isNotNull()
        out_cols = {target_prefix or "dissect": F.col("_dissect_map")}
        drop_cols = ["_dissect_map"]

    # the flag is written in the same projection as the fields, so a
    # guard reads the row as it was before the parse
    if not ignore_failure:
        out_cols[flags_col] = flag_failures(df, ok, flags_col, PARSE_ERROR_FLAG)
    return assign_where(df, active, out_cols).drop(*drop_cols)


_SEP = "\x01"
_MARK = "\x02"


def captures(df: DataFrame, name: str, src: Column, regex: str, ngroups: int,
             where: Column | None = None
             ) -> tuple[DataFrame, Column, Callable[[int], Column]]:
    """Every capture group of ``regex`` over ``src`` from ONE regex
    evaluation per row: ``(df, ok, group)``.

    ``regex`` must consume the whole line (anchor it with ``^``, and end
    it with ``$``, ``\\z`` or a catch-all). One ``regexp_replace``
    rewrites a matching line to MARK (\\x02) + the captures joined by
    SEP (\\x01); an unmatched line passes through unchanged. The
    result, split on SEP, is appended as column ``name`` through
    :func:`~beats_spark.conditions.once`, so no consumer and no
    pushed-down filter evaluates the regex again. Match detection and
    every group then read that one array: the cost is independent of
    the number of groups, and the parse stays in whole-stage codegen.

    ``ok`` is the never-null match flag: element 1 starts with MARK
    exactly on a match. A line that itself starts with MARK gets the
    whole match ($0) appended on a match, so for those rows (and only
    those, no second regex) ``ok`` is "the line changed".
    ``group(g)`` reads capture ``g`` (1-based, MARK stripped) and never
    throws; on an unmatched row it reads arbitrary text or null, so
    gate it with ``ok``. An empty capture reads as "" — what it means
    is the caller's policy. Rows where ``where`` is false skip the
    regex and read as unmatched. A captured value containing SEP would
    misalign the groups (log text holds no control characters)."""
    groups = _SEP.join(f"${g}" for g in range(1, ngroups + 1))
    line = src if where is None else F.when(where, src)
    rep = F.when(src.startswith(_MARK), F.lit(f"{_MARK}{groups}{_SEP}$0")) \
        .otherwise(F.lit(_MARK + groups))
    df = once(df, name, F.split(F.regexp_replace(line, regex, rep), _SEP, -1))
    parts = F.col(name)
    ok = F.coalesce(
        F.when(src.startswith(_MARK), F.array_join(parts, _SEP) != src)
        .otherwise(F.try_element_at(parts, F.lit(1)).startswith(_MARK)),
        F.lit(False))

    def group(g: int) -> Column:
        v = F.try_element_at(parts, F.lit(g))
        return F.substring(v, 2, 2**30) if g == 1 else v

    return df, ok, group


def flag_failures(df: DataFrame, ok: Column, flags_col: str, flag: str) -> Column:
    """``flags_col`` with ``flag`` appended where ``ok`` is false — a
    parser's failure flag (reference: processor.go:93-105 / log.flags)."""
    prev = (F.col(flags_col) if flags_col in df.columns
            else F.lit(None).cast(T.ArrayType(T.StringType())))
    return F.when(ok, prev).otherwise(
        F.array_union(F.coalesce(prev, F.array()), F.array(F.lit(flag))))
