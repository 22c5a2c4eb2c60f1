"""Elasticsearch ingest-pipeline compiler → one declarative Spark plan.

The reference's standard modules (``filebeat/module/*/*/ingest/
pipeline.yml|json`` — nginx, apache, mysql, system, kafka, redis,
elasticsearch, haproxy, iis, traefik, …) do their real parsing not in
Beats processors but in an Elasticsearch **ingest node pipeline** that
Filebeat installs and references per event
(``filebeat/fileset/pipelines.go``). A user switching from the
reference therefore needs those pipeline definitions to run — this
module compiles the declarative processor subset they use (21
processor types across all 63 shipped pipelines: append, convert, csv,
date, dissect, dot_expander, drop, foreach, geoip, grok, json, kv,
lowercase, pipeline, remove, rename, script, set, split, urldecode,
user_agent) into pure Spark column expressions over a flat event frame
whose column names ARE the ES dotted field paths
(``http.response.status_code``).

Per-document failure semantics, vectorized: ES fails a *document* when
a processor errors and runs its ``on_failure`` chain on just that
document. Here a per-row boolean ``_ingest_failed`` guard threads
through the chain — a failed row skips every later processor,
``ignore_failure: true`` swallows the failure, a processor-level
``on_failure`` chain runs guarded on exactly the failing rows (which
then continue, recovered, like ES), and rows still failed at the end
surface the message in ``error.message`` (or are dropped with
``keep_failed=False``). All of this compiles to ``CASE WHEN`` wrappers
— zero Python, zero extra scans, one projection per processor.

``if`` conditions are **painless-lite**: the declarative Painless
subset the module pipelines actually write (``ctx`` paths with ``?.``
null-safety, ``==`` ``!=`` ``<`` ``>`` ``<=`` ``>=``, ``&&`` ``||``
``!``, parentheses, string/number/boolean/null literals, ``.length``
``.size()`` ``.isEmpty()`` ``.contains(x)`` ``.startsWith(x)``
``.endsWith(x)``), compiled schema-aware to a boolean Column. Anything
else refuses loudly at compile time. ``script`` processors refuse the
same way — printing the Painless source so the porter sees exactly
what to hand-translate — unless the caller supplies a substitution in
``script_handlers`` (the policy established for goja JS in
``processors/script_translate.py``).

Scale shape: the compiled pipeline is a chain of narrow projections —
no shuffle, no join (``geoip`` optionally broadcast-joins a
caller-supplied lookup table), whole-stage codegen end to end except
the documented Arrow paths inherited from the underlying processors.
At 10^12 rows the plan is scan → project×k → sink.
"""

from __future__ import annotations

import json as _json
import operator
import re
from dataclasses import dataclass, field as _dc_field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.conditions import keep_old, masked_assigns, once, try_cast_or_null
from beats_spark.dissect import captures
from beats_spark.session import local_frame

__all__ = [
    "IngestCompileError",
    "compile_ingest_pipeline",
    "load_ingest_pipeline",
    "painless_condition",
]

FAILED = "_ingest_failed"
ERRMSG = "_ingest_error"


class IngestCompileError(ValueError):
    """A pipeline uses something outside the supported declarative
    subset. The message names the processor and, for ``script``, quotes
    the source so the gap is visible, never silent."""


# Filebeat renders its pipeline files through a Go template before
# installing them (fileset/pipelines.go): `{<if .flag >}` / `{< end >}`
# guards and `{< IngestPipeline "name" >}` sub-pipeline references.
# We strip the control directives (keeping the guarded content — the
# modules' default-on rendering) and keep IngestPipeline refs as their
# quoted name so the `pipeline` processor can resolve them.
_GO_DIRECTIVE_RE = re.compile(r'\{<\s*(?:if\b[^>]*|end|else)\s*>\}')
_GO_INGEST_REF_RE = re.compile(r'\{<\s*IngestPipeline\s+"([^"]+)"\s*>\}')


def _strip_go_template(text: str) -> str:
    return _GO_DIRECTIVE_RE.sub("", text)


def pipeline_ref_name(name: str) -> str:
    """`{< IngestPipeline "pipeline-plaintext" >}` → `pipeline-plaintext`
    (plain names pass through)."""
    m = _GO_INGEST_REF_RE.search(name)
    return m.group(1) if m else name


def load_ingest_pipeline(text_or_path: str) -> dict:
    """Parse a pipeline definition from YAML or JSON text (or a path
    ending in .yml/.yaml/.json). Go-template control directives from
    the module build (`{<if ...>}` / `{< end >}`) are stripped first."""
    text = text_or_path
    if text_or_path.endswith((".yml", ".yaml", ".json")):
        with open(text_or_path) as f:
            text = f.read()
    text = _strip_go_template(text)
    stripped = text.lstrip()
    if stripped.startswith("{"):
        return _json.loads(text)
    import yaml

    return yaml.safe_load(text)


def _c(name: str) -> Column:
    """Column ref that treats dotted ES field paths as literal names."""
    return F.col(f"`{name}`")


def _has(df: DataFrame, name: str) -> bool:
    return name in df.columns


def _dtype(df: DataFrame, name: str) -> T.DataType | None:
    for f in df.schema.fields:
        if f.name == name:
            return f.dataType
    return None


# ---------------------------------------------------------------------------
# painless-lite `if` compiler
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<op>\|\||&&|==~|=~|==|!=|<=|>=|[()!<>\[\],])"
    r"|(?P<str>'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
    r"|(?P<regex>/(?:[^/\\\n]|\\.)+/)"
    r"|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<dot>\?\.|\.)"
    r"|(?P<ident>[A-Za-z_$][A-Za-z0-9_$]*))"
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            if src[pos:].strip() == "":
                break
            raise IngestCompileError(
                f"painless-lite: cannot tokenize at {src[pos:pos+20]!r}"
            )
        pos = m.end()
        for kind in ("op", "str", "regex", "num", "dot", "ident"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    out.append(("end", ""))
    return out


@dataclass
class _Painless:
    """Recursive-descent compiler for the module pipelines' condition
    subset. Schema-aware: ``.length`` resolves to ``F.length`` on
    strings and ``F.size`` on arrays/maps; a ``ctx`` path that matches
    no column compiles to null (missing field), so ``== null`` /
    ``!= null`` behave exactly like Painless null-safe access."""

    src: str
    df: DataFrame
    toks: list[tuple[str, str]] = _dc_field(default_factory=list)
    i: int = 0

    def compile(self) -> Column:
        self.toks = _tokenize(self.src)
        col = self._or()
        if self.toks[self.i][0] != "end":
            raise IngestCompileError(
                f"painless-lite: trailing input in {self.src!r} at "
                f"{self.toks[self.i][1]!r}"
            )
        # three-valued → ES boolean: null condition means "don't run"
        return F.coalesce(col, F.lit(False))

    # -- grammar --
    def _peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def _eat(self, val: str | None = None) -> tuple[str, str]:
        t = self.toks[self.i]
        if val is not None and t[1] != val:
            raise IngestCompileError(
                f"painless-lite: expected {val!r}, got {t[1]!r} in {self.src!r}"
            )
        self.i += 1
        return t

    def _or(self) -> Column:
        left = self._and()
        while self._peek()[1] == "||":
            self._eat()
            # painless || is short-circuit two-valued; coalesce each side
            left = F.coalesce(left, F.lit(False)) | F.coalesce(
                self._and(), F.lit(False)
            )
        return left

    def _and(self) -> Column:
        left = self._cmp()
        while self._peek()[1] == "&&":
            self._eat()
            left = F.coalesce(left, F.lit(False)) & F.coalesce(
                self._cmp(), F.lit(False)
            )
        return left

    def _cmp(self) -> Column:
        left, lnull = self._primary()
        op = self._peek()[1]
        if op == "instanceof":
            # `x instanceof List` — in the flat/json-text model a list
            # value is either an ArrayType column or its JSON text:
            # CAST to string starts with '[' for both ('{' for maps)
            self._eat()
            _, tname = self._eat()
            marker = {"List": "[", "ArrayList": "[", "Map": "{",
                      "HashMap": "{"}.get(tname)
            if marker is None:
                raise IngestCompileError(
                    f"painless-lite: instanceof {tname!r} unsupported in "
                    f"{self.src!r}")
            return left.cast("string").startswith(marker)
        if op in ("==~", "=~"):
            # Painless regex operators: `==~` whole-string match,
            # `=~` find-anywhere (both on a /regex/ literal)
            self._eat()
            kind, val = self._eat()
            if kind != "regex":
                raise IngestCompileError(
                    f"painless-lite: {op} needs a /regex/ literal, got "
                    f"{val!r} in {self.src!r}")
            pat = val[1:-1]
            if op == "==~":  # Matcher.matches(): implicit full anchor
                pat = "^(?:" + pat + ")$"
            return left.rlike(pat)
        if op not in ("==", "!=", "<", ">", "<=", ">="):
            return left
        self._eat()
        right, rnull = self._primary()
        if op == "==":
            if rnull:
                return left.isNull()
            if lnull:
                return right.isNull()
            return left.eqNullSafe(right)
        if op == "!=":
            if rnull:
                return left.isNotNull()
            if lnull:
                return right.isNotNull()
            return ~left.eqNullSafe(right)
        if lnull or rnull:
            raise IngestCompileError(
                f"painless-lite: ordered comparison with null in {self.src!r}"
            )
        # Painless def comparison is NUMERIC when both operands are
        # numbers; json-map values arrive as digit strings — compare as
        # doubles when both sides parse, lexicographically otherwise
        ln, rn = left.try_cast("double"), right.try_cast("double")
        num = ln.isNotNull() & rn.isNotNull()
        ops = {"<": lambda a, b: a < b, ">": lambda a, b: a > b,
               "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b}[op]
        return F.when(num, ops(ln, rn)).otherwise(
            ops(left.cast("string"), right.cast("string")))

    def _primary(self) -> tuple[Column, bool]:
        """→ (column, is_null_literal)."""
        kind, val = self._peek()
        if val == "!":
            self._eat()
            inner, _ = self._primary()
            return (~F.coalesce(inner, F.lit(False)), False)
        if val == "(":
            self._eat()
            col = self._or()
            self._eat(")")
            return (col, False)
        if val == "[":
            # list literal + .contains(expr) → expr.isin(...)
            # (`['useradd','userdel'].contains(ctx.process.name)`)
            self._eat()
            items: list = []
            while self._peek()[1] != "]":
                kind, v = self._eat()
                if kind == "str":
                    items.append(re.sub(r"\\(.)", r"\1", v[1:-1]))
                elif kind == "num":
                    items.append(float(v) if "." in v else int(v))
                else:
                    raise IngestCompileError(
                        f"painless-lite: bad list element {v!r} in "
                        f"{self.src!r}")
                if self._peek()[1] == ",":
                    self._eat()
            self._eat("]")
            self._eat(".")
            _, meth = self._eat()
            if meth != "contains":
                raise IngestCompileError(
                    f"painless-lite: only .contains() on list literals, "
                    f"got .{meth}() in {self.src!r}")
            self._eat("(")
            arg, _ = self._primary()
            self._eat(")")
            return (arg.isin(*items), False)
        if kind == "str":
            self._eat()
            body = val[1:-1]
            body = re.sub(r"\\(.)", r"\1", body)
            return (F.lit(body), False)
        if kind == "num":
            self._eat()
            return (F.lit(float(val) if "." in val else int(val)), False)
        if kind == "ident":
            if val == "null":
                self._eat()
                return (F.lit(None), True)
            if val in ("true", "false"):
                self._eat()
                return (F.lit(val == "true"), False)
            if val == "ctx":
                return (self._path(), False)
        raise IngestCompileError(
            f"painless-lite: unexpected {val!r} in {self.src!r}"
        )

    def _path(self) -> Column:
        self._eat("ctx")
        segs: list[str] = []
        methods: list[tuple[str, list]] = []
        while True:
            kind, val = self._peek()
            if kind == "dot":
                self._eat()
                _, name = self._eat()
                if self._peek()[1] == "(":
                    methods.append((name, self._args()))
                elif methods:
                    raise IngestCompileError(
                        f"painless-lite: property after method in {self.src!r}"
                    )
                elif name == "length" and self._resolve(segs)[0] is not None:
                    methods.append(("length", []))
                else:
                    segs.append(name)
            elif val == "[":
                self._eat()
                k, kv = self._eat()
                if k != "str":
                    raise IngestCompileError(
                        f"painless-lite: only string subscripts, got {kv!r}"
                    )
                self._eat("]")
                segs.append(kv[1:-1])
            else:
                break
        if not segs and methods and methods[0][0] == "containsKey":
            # ctx.containsKey('x') — root-level presence: any `x` or
            # `x.*` column non-null (flat-column model equates absent
            # with null, per the compiler contract)
            key = str(methods[0][1][0])
            cols = [c for c in self.df.columns
                    if c == key or c.startswith(key + ".")]
            if not cols:
                base = F.lit(False)
            else:
                base = F.lit(False)
                for c in cols:
                    base = base | _c(c).isNotNull()
            for name, args in methods[1:]:
                base, _ = self._method(base, T.BooleanType(), name, args)
            return base
        col, dtype = self._resolve(segs)
        if col is not None and not methods:
            # a field written by one branch as a flat column and by
            # another as a json-map entry: per-row only one is set —
            # read the coalesce (see _get)
            merged = _get(self.df, ".".join(segs))
            if merged is not None:
                return merged
        if col is None:
            # not a column itself — but if it's an object PREFIX of
            # flat columns (`ctx.haproxy.http` over haproxy.http.*),
            # the object "exists" for a row whenever any child is
            # non-null: surface a boolean presence pseudo-value so
            # `!= null` / `== null` behave like Painless object access
            prefix = ".".join(segs) + "."
            kids = [c for c in self.df.columns if c.startswith(prefix)]
            if kids and not methods:
                present = F.lit(False)
                for c in kids:
                    present = present | _c(c).isNotNull()
                return F.when(present, F.lit(True))
            # whole path missing from the schema → Painless null
            base: Column = F.lit(None)
            dtype = None
        else:
            base = col
        for name, args in methods:
            base, dtype = self._method(base, dtype, name, args)
        return base

    def _resolve(self, segs: list[str]) -> tuple[Column | None, T.DataType | None]:
        """Longest dotted-prefix column match; remaining segments walk
        struct/map members."""
        for cut in range(len(segs), 0, -1):
            name = ".".join(segs[:cut])
            dt = _dtype(self.df, name)
            if dt is None:
                continue
            col = _c(name)
            rest = segs[cut:]
            while rest:
                seg = rest[0]
                if isinstance(dt, T.StructType):
                    sub = {f.name: f.dataType for f in dt.fields}.get(seg)
                    if sub is None:
                        return F.lit(None), None
                    col, dt = col[seg], sub
                    rest = rest[1:]
                elif isinstance(dt, T.MapType):
                    if isinstance(dt.valueType, T.StringType):
                        # json-target map: the remaining path may be a
                        # literal dotted key or lead into JSON text
                        col = _entry_value(col, ".".join(rest))
                        dt = T.StringType()
                        rest = []
                    else:
                        col, dt = col[seg], dt.valueType
                        rest = rest[1:]
                elif isinstance(dt, T.StringType):
                    # JSON text (renamed json object): path through it
                    path = "$" + "".join(f"['{s}']" for s in rest)
                    col = F.get_json_object(col, path)
                    dt = T.StringType()
                    rest = []
                else:
                    return F.lit(None), None
            return col, dt
        return None, None

    def _args(self) -> list:
        self._eat("(")
        out = []
        while self._peek()[1] != ")":
            kind, val = self._eat()
            if kind == "str":
                out.append(re.sub(r"\\(.)", r"\1", val[1:-1]))
            elif kind == "num":
                out.append(float(val) if "." in val else int(val))
            else:
                raise IngestCompileError(
                    f"painless-lite: bad method arg {val!r} in {self.src!r}"
                )
            if self._peek()[1] == ",":
                self._eat()
        self._eat(")")
        return out

    def _method(self, col: Column, dtype, name: str, args: list):
        is_arr = isinstance(dtype, (T.ArrayType, T.MapType))
        if name in ("length", "size"):
            return (F.size(col) if is_arr else F.length(col), T.IntegerType())
        if name == "isEmpty":
            return ((F.size(col) == 0) if is_arr else (F.length(col) == 0),
                    T.BooleanType())
        if name == "contains":
            return (
                F.array_contains(col, args[0]) if is_arr
                else col.contains(F.lit(args[0])),
                T.BooleanType(),
            )
        if name == "containsKey" and isinstance(dtype, T.MapType):
            return (F.map_contains_key(col, F.lit(args[0])), T.BooleanType())
        if name == "startsWith":
            return (col.startswith(str(args[0])), T.BooleanType())
        if name == "endsWith":
            return (col.endswith(str(args[0])), T.BooleanType())
        if name == "toLowerCase":
            return (F.lower(col), T.StringType())
        if name == "trim":
            return (F.trim(col), T.StringType())
        raise IngestCompileError(
            f"painless-lite: unsupported method .{name}() in {self.src!r}"
        )


def painless_condition(src: str, df: DataFrame) -> Column:
    """Compile a module pipeline ``if:`` expression to a boolean Column."""
    return _Painless(src, df).compile()


# ---------------------------------------------------------------------------
# mustache value templates ({{field}} / {{{field}}} / {{_ingest.timestamp}})
# ---------------------------------------------------------------------------

_MUSTACHE_RE = re.compile(r"\{\{\{?\s*([^}\s]+)\s*\}?\}\}")


def _template(value: Any, df: DataFrame) -> Column:
    """A ``set``/``append`` value → Column. Strings compile their
    mustache refs to concat-of-columns; other scalars pass through."""
    if not isinstance(value, str):
        if isinstance(value, list):
            return F.array(*[_template(v, df) for v in value])
        return F.lit(value)
    parts: list[Column] = []
    pos = 0
    for m in _MUSTACHE_RE.finditer(value):
        if m.start() > pos:
            parts.append(F.lit(value[pos : m.start()]))
        ref = m.group(1)
        if ref == "_ingest.timestamp":
            parts.append(F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
        elif ref == "_ingest.on_failure_message":
            parts.append(F.coalesce(
                _c(ERRMSG) if _has(df, ERRMSG) else F.lit(None),
                F.lit("ingest failure"),
            ))
        else:
            # mustache renders a missing/null field ref as the EMPTY
            # string ('x-{{missing}}' → 'x-'), never nulling the value
            col = _get(df, ref)
            parts.append(F.coalesce(col.cast("string"), F.lit(""))
                         if col is not None else F.lit(""))
        pos = m.end()
    if pos == 0:
        return F.lit(value)  # no refs: plain literal
    if pos < len(value):
        parts.append(F.lit(value[pos:]))
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


# ---------------------------------------------------------------------------
# per-processor compilers
# ---------------------------------------------------------------------------
# Each returns (assigns, fails, fail_msg):
#   assigns:  {col: expr} applied where active & ~fails
#   fails:    boolean Column over INPUT columns (None = can't fail)
#   fail_msg: the error.message of a failed row (str or Column)


def _map_entry(df: DataFrame, fld: str) -> tuple[str, str] | None:
    """Resolve ``fld`` as an entry INSIDE a map-typed column (the
    `json` processor materializes its target as map<string,string>):
    ``elasticsearch.server.cluster.name`` → ('elasticsearch.server',
    'cluster.name'). Longest existing column prefix wins; a non-map
    prefix column shadows (the path is then simply absent)."""
    segs = fld.split(".")
    for cut in range(len(segs) - 1, 0, -1):
        name = ".".join(segs[:cut])
        dt = _dtype(df, name)
        if isinstance(dt, T.MapType):
            return name, ".".join(segs[cut:])
        if dt is not None:
            return None
    return None


def _map_entry_any(df: DataFrame, fld: str) -> tuple[str, str] | None:
    """Like _map_entry but doesn't stop at a non-map prefix column —
    used to find the map-side twin of a field that ALSO exists as a
    flat column (plaintext-branch grok vs json-branch map: each row
    has at most one populated; reads coalesce the two)."""
    segs = fld.split(".")
    for cut in range(len(segs) - 1, 0, -1):
        name = ".".join(segs[:cut])
        if isinstance(_dtype(df, name), T.MapType):
            return name, ".".join(segs[cut:])
    return None


def _entry_value(map_col: Column, key: str) -> Column:
    """Read a dotted path out of a map<string,string> json target.
    The path may be one literal dotted key ('node.id'), or lead into a
    nested object stored as JSON text ('change.disable.user.name' →
    map['change'] then $.disable.user.name): try every literal-prefix
    split, longest first."""
    segs = key.split(".")
    cands = []
    for i in range(len(segs), 0, -1):
        head = ".".join(segs[:i])
        v = map_col[head]
        if i < len(segs):
            path = "$" + "".join(f"['{s}']" for s in segs[i:])
            v = F.get_json_object(v, path)
        cands.append(v)
    return F.coalesce(*cands) if len(cands) > 1 else cands[0]


def _json_text_path(df: DataFrame, fld: str) -> Column | None:
    """Longest string-column prefix + get_json_object for the rest: a
    renamed json OBJECT lives as JSON text in a string column
    (`user` = '{"name":"elastic"}' → user.name)."""
    segs = fld.split(".")
    for cut in range(len(segs) - 1, 0, -1):
        name = ".".join(segs[:cut])
        dt = _dtype(df, name)
        if isinstance(dt, T.StringType):
            path = "$" + "".join(f"['{s}']" for s in segs[cut:])
            return F.get_json_object(_c(name), path)
        if dt is not None:
            return None
    return None


def _get(df: DataFrame, fld: str) -> Column | None:
    """Read a field path, map-member aware; None when unaddressable.
    A field present both as a flat column and as a map entry (two
    pipeline branches writing the same name) reads as the coalesce."""
    m = _map_entry_any(df, fld)
    if _has(df, fld):
        col = _c(fld)
        if m is not None:
            dt = _dtype(df, fld)
            entry = _entry_value(_c(m[0]), m[1])
            if isinstance(dt, T.StringType):
                return F.coalesce(col, entry)
            if isinstance(dt, (T.NumericType, T.BooleanType,
                               T.TimestampType, T.DateType)):
                return F.coalesce(col, entry.try_cast(dt))
            return col  # array/struct flat column: map twin can't merge
        return col
    if m is not None:
        return _entry_value(_c(m[0]), m[1])
    return _json_text_path(df, fld)


def _drop_key(map_col: Column, key: str, prefix: bool = False) -> Column:
    """Remove `key` from a map column; with prefix=True also every
    `key.*` entry (removing an OBJECT whose members are dotted keys)."""
    if prefix:
        return F.map_filter(
            map_col,
            lambda k, _v: (k != F.lit(key)) & ~k.startswith(key + "."))
    return F.map_filter(map_col, lambda k, _v: k != F.lit(key))


def _missing(df: DataFrame, fld: str) -> Column:
    """ES 'field not present or null'."""
    col = _get(df, fld)
    return F.lit(True) if col is None else col.isNull()


def _p_set(df, cfg):
    fld = cfg["field"]
    if "copy_from" in cfg:
        src = cfg["copy_from"]
        val = _get(df, src)
        val = F.lit(None) if val is None else val
    else:
        val = _template(cfg["value"], df)
        # ES coerces a scalar literal to the field's existing mapping
        # type ('-1' onto a long field stores -1): when the target
        # column is typed and the literal parses, keep the column type
        # instead of re-typing the whole column to string
        tgt_dt = _dtype(df, fld)
        v = cfg.get("value")
        if (isinstance(v, str) and "{{" not in v and tgt_dt is not None
                and isinstance(tgt_dt, (T.NumericType, T.BooleanType))):
            try:
                float(v) if not isinstance(tgt_dt, T.BooleanType) else \
                    {"true": 1, "false": 0}[v.lower()]
                val = val.cast(tgt_dt)
            except (ValueError, KeyError):
                pass
    if not cfg.get("override", True) and _has(df, fld):
        val = F.coalesce(_c(fld), val)
    if cfg.get("ignore_empty_value", False):
        old = _c(fld) if _has(df, fld) else F.lit(None)
        val = F.when(val.isNull() | (val.cast("string") == ""), old).otherwise(val)
    return {fld: val}, None, None


def _p_remove(df, cfg):
    flds = cfg["field"] if isinstance(cfg["field"], list) else [cfg["field"]]
    # an object name removes the whole subtree: `remove: tempcsv` in the
    # flat-column model means every `tempcsv.*` column
    expanded: list[str] = []
    entries: list[tuple[str, str]] = []
    for f in flds:
        if _has(df, f):
            expanded.append(f)
            continue
        kids = [c for c in df.columns if c.startswith(f + ".")]
        if kids:
            expanded.extend(kids)
            continue
        e = _map_entry(df, f)
        if e is not None:
            entries.append(e)
        else:
            expanded.append(f)
            continue
    fails = None
    if not cfg.get("ignore_missing", False):
        missing = [f for f in expanded if not _has(df, f)]
        if missing:
            fails = F.lit(True)
        else:
            fails = None  # present columns: ES removes null-valued fields fine
    # a guarded drop can't remove the column for only some rows → null it
    assigns = {f: F.lit(None).cast(_dtype(df, f) or T.StringType())
               for f in expanded if _has(df, f)}
    for mcol, key in entries:
        assigns[mcol] = _drop_key(assigns.get(mcol, _c(mcol)), key)
    return assigns, fails, f"field [{flds}] not present"


def _p_rename(df, cfg):
    src, dst = cfg["field"], cfg["target_field"]
    ignore_missing = cfg.get("ignore_missing", False)
    entry = None if _has(df, src) else _map_entry(df, src)
    if ignore_missing and not _has(df, src) and entry is None:
        return {}, None, None
    src_col = _get(df, src) if (_has(df, src) or entry) else F.lit(None)
    src_nn = src_col.isNotNull()
    old_dst = _c(dst) if _has(df, dst) else F.lit(None)
    fails = None if ignore_missing else _missing(df, src)
    msg: Column | str = f"field [{src}] not present"
    if _has(df, dst):
        # ES rename fails the document when the target already exists —
        # only for docs that would actually rename (src present)
        exists = src_nn & old_dst.isNotNull()
        msg = F.when(exists, F.lit(f"field [{dst}] already exists")) \
            .otherwise(F.lit(f"field [{src}] not present"))
        fails = exists if fails is None else (fails | exists)
    # the move happens ONLY where the target is free: an occupied
    # target throws in ES — under ignore_failure that exception is
    # swallowed and the document keeps BOTH fields untouched. Free is
    # read before the type merge below, which may null an occupied
    # target's uncastable value.
    moved = src_nn & old_dst.isNull() if _has(df, dst) else src_nn
    # src-null docs under ignore_missing are a per-row NO-OP: the
    # target keeps its value (never nulled by a missing source).
    # Branch types must agree EXACTLY: a string/timestamp pair would
    # get an implicit ANSI cast on the string side that explodes at
    # runtime on the very rows the guard protects — try_cast the old
    # side to the incoming type instead
    if _has(df, dst):
        ndt = df.select(F.when(src_nn, src_col)).schema[0].dataType
        odt = _dtype(df, dst)
        if odt != ndt:
            old_dst = try_cast_or_null(df, old_dst, odt, ndt)
    assigns = {dst: F.when(moved, src_col).otherwise(old_dst)}
    if entry is not None:
        # renaming OUT of a map column: drop the key from the map
        mcol, key = entry
        assigns[mcol] = F.when(moved, _drop_key(_c(mcol), key)) \
            .otherwise(_c(mcol))
    else:
        sdt = _dtype(df, src) or T.StringType()
        assigns[src] = F.when(moved, F.lit(None).cast(sdt)) \
            .otherwise(_c(src) if _has(df, src) else F.lit(None).cast(sdt))
    return assigns, fails, msg


def _p_append(df, cfg):
    fld = cfg["field"]
    val = _template(cfg["value"], df)
    if isinstance(cfg["value"], list):
        addition = val
    else:
        addition = F.array(val)
    if _has(df, fld):
        cur = _c(fld)
        dt = _dtype(df, fld)
        base = cur if isinstance(dt, T.ArrayType) else F.array(cur.cast("string"))
        base = F.when(cur.isNull(), F.array().cast("array<string>")).otherwise(
            base.cast("array<string>")
        )
    else:
        base = F.array().cast("array<string>")
    add = addition.cast("array<string>")
    if cfg.get("allow_duplicates", True):
        out = F.concat(base, add)
    else:
        out = F.array_union(base, add)
    return {fld: out}, None, None


def _p_lowercase(df, cfg, fn=F.lower):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("ignore_missing", False) and not _has(df, fld):
        return {}, None, None
    fails = _missing(df, fld)
    if cfg.get("ignore_missing", False):
        fails = None
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    dt = _dtype(df, fld)
    if isinstance(dt, T.ArrayType):
        out = F.transform(src, lambda x: fn(x))
    else:
        out = fn(src)
    return {tgt: out}, fails, f"field [{fld}] not present"


def _p_gsub(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("ignore_missing", False) and not _has(df, fld):
        return {}, None, None
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    out = F.regexp_replace(src, cfg["pattern"], cfg["replacement"])
    return {tgt: out}, fails, f"field [{fld}] not present"


def _strip_trailing_empties(arr: Column) -> Column:
    trail = F.aggregate(
        F.reverse(arr),
        F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
        lambda s, x: F.struct(
            F.when(s["stop"] | (x != ""), s["n"]).otherwise(s["n"] + 1).alias("n"),
            (s["stop"] | (x != "")).alias("stop"),
        ),
    )["n"]
    return F.slice(arr, F.lit(1), F.greatest(F.size(arr) - trail, F.lit(0)))


def _p_split(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("ignore_missing", False) and not _has(df, fld):
        return {}, None, None
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    arr = F.split(src, cfg["separator"], -1)
    if not cfg.get("preserve_trailing", False):
        arr = _strip_trailing_empties(arr)
    return {tgt: arr}, fails, f"field [{fld}] not present"


def _p_join(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("array<string>")
    return ({tgt: F.array_join(src, cfg["separator"])},
            _missing(df, fld), f"field [{fld}] not present")


_CONVERT = {
    "integer": "int", "long": "long", "float": "float", "double": "double",
    "string": "string", "boolean": "boolean", "auto": None, "ip": "ip",
}
_IP_RE = (
    r"^(?:(?:25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(?:25[0-5]|2[0-4]\d|1?\d?\d)$"
    r"|^[0-9A-Fa-f:]*:[0-9A-Fa-f:.]+$"
)


def _p_convert(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    typ = cfg["type"]
    if typ not in _CONVERT:
        raise IngestCompileError(f"convert: unsupported type {typ!r}")
    if cfg.get("ignore_missing", False) and _get(df, fld) is None:
        return {}, None, None
    src = _get(df, fld)
    src = F.lit(None).cast("string") if src is None else src
    missing = _missing(df, fld)
    if typ == "ip":
        ok = src.cast("string").rlike(_IP_RE)
        out = F.when(ok, src.cast("string"))
        bad = src.isNotNull() & ~ok
    elif typ == "auto":
        as_num = src.cast("string").try_cast("double")
        as_bool = F.when(F.lower(src.cast("string")).isin("true", "false"),
                         F.lower(src.cast("string")) == "true")
        out = F.coalesce(
            as_bool.cast("string"), as_num.cast("string"), src.cast("string")
        )
        bad = F.lit(False)
    elif typ == "boolean":
        low = F.lower(src.cast("string"))
        out = F.when(low == "true", F.lit(True)).when(low == "false", F.lit(False))
        bad = src.isNotNull() & ~low.isin("true", "false")
    else:
        out = src.try_cast(_CONVERT[typ])
        bad = src.isNotNull() & out.isNull()
    fails = bad if cfg.get("ignore_missing", False) else (missing | bad)
    return {tgt: out}, fails, f"convert of [{fld}] to {typ} failed"


def _p_date(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", "@timestamp")
    src = (_get(df, fld) if _get(df, fld) is not None
           else F.lit(None)).cast("string")
    tz = cfg.get("timezone")
    tz_col = _template(tz, df) if tz is not None else None
    attempts: list[Column] = []
    for fmt in cfg["formats"]:
        if fmt == "ISO8601":
            attempts.append(F.try_to_timestamp(src))
            attempts.append(
                F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")))
            attempts.append(
                F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")))
            # ES's ISO8601 also takes a COMMA decimal separator
            # (jsr-310 lenient parse; gc logs emit '18:14:44,032Z')
            attempts.append(F.try_to_timestamp(
                src, F.lit("yyyy-MM-dd'T'HH:mm:ss','SSSXXX")))
            attempts.append(F.try_to_timestamp(
                src, F.lit("yyyy-MM-dd'T'HH:mm:ss','SSS")))
        elif fmt == "UNIX":
            attempts.append(F.timestamp_seconds(src.try_cast("double")))
        elif fmt == "UNIX_MS":
            attempts.append(F.timestamp_millis(src.try_cast("long")))
        else:
            val = src
            m = re.match(r"^(E+)([,\s]*)", fmt)
            if m:
                # Spark's parser rejects day-of-week for parsing
                # (DATETIME_PATTERN_RECOGNITION); the day name is
                # redundant for resolving the instant — drop the token
                # and the matching name prefix from the value (apache
                # error '[Fri Sep 09 10:42:29.902022 2011]')
                fmt = fmt[m.end():]
                val = F.regexp_replace(src, r"^[A-Za-z]+[,\s]+", "")
            parsed = F.try_to_timestamp(val, F.lit(fmt))
            zoneless = not re.search(r"[XxZzOV]", re.sub(r"'[^']*'", "", fmt))
            if tz_col is not None and zoneless:
                parsed = F.to_utc_timestamp(parsed, tz_col)
            attempts.append(parsed)
    out = F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]
    fails = src.isNull() | out.isNull()
    return {tgt: out}, fails, (
        f"unable to parse date [{fld}] with formats {cfg['formats']}"
    )


def _p_urldecode(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("ignore_missing", False) and not _has(df, fld):
        return {}, None, None
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    # '+' means space in form encoding (ES URLDecoder.decode semantics)
    out = F.try_url_decode(F.regexp_replace(src, r"\+", " "))
    return {tgt: out}, fails, f"field [{fld}] not present"


def _p_json(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("add_to_root", False):
        raise IngestCompileError(
            "json: add_to_root creates dynamic root fields — declare a "
            "decode_json_fields processor with a schema instead"
        )
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    # map<string,string>: Spark renders non-scalar values (nested
    # objects, arrays) as their JSON TEXT — so one parse preserves the
    # whole document. Nested ctx paths read through the JSON text via
    # get_json_object (see _entry_value); list consumers json-decode.
    parsed = F.from_json(src, T.MapType(T.StringType(), T.StringType()))
    fails = src.isNotNull() & parsed.isNull()
    return {tgt: parsed}, fails, f"field [{fld}] is not valid JSON"


def _p_kv(df, cfg):
    fld = cfg["field"]
    tgt = cfg.get("target_field", fld)
    if cfg.get("ignore_missing", False) and not _has(df, fld):
        return {}, None, None
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    src = _c(fld) if _has(df, fld) else F.lit(None).cast("string")
    if cfg.get("strip_brackets", False):
        src = F.regexp_replace(src, r"[()<>\[\]\"']", "")
    parts = F.split(src, cfg["field_split"], -1)
    vs = cfg["value_split"]
    entries = F.transform(
        parts,
        lambda p: F.struct(
            F.regexp_extract(p, f"^(.*?){vs}", 1).alias("k"),
            F.regexp_replace(p, f"^.*?{vs}", "").alias("v"),
        ),
    )
    entries = F.filter(entries, lambda e: e["k"] != "")
    if cfg.get("trim_key"):
        tk = re.escape(cfg["trim_key"])
        entries = F.transform(entries, lambda e: F.struct(
            F.regexp_replace(e["k"], f"^[{tk}]+|[{tk}]+$", "").alias("k"),
            e["v"].alias("v")))
    if cfg.get("trim_value"):
        tv = re.escape(cfg["trim_value"])
        entries = F.transform(entries, lambda e: F.struct(
            e["k"].alias("k"),
            F.regexp_replace(e["v"], f"^[{tv}]+|[{tv}]+$", "").alias("v")))
    if cfg.get("include_keys"):
        keys = [str(k) for k in cfg["include_keys"]]
        entries = F.filter(entries, lambda e: e["k"].isin(*keys))
    if cfg.get("exclude_keys"):
        keys = [str(k) for k in cfg["exclude_keys"]]
        entries = F.filter(entries, lambda e: ~e["k"].isin(*keys))
    if cfg.get("prefix"):
        entries = F.transform(entries, lambda e: F.struct(
            F.concat(F.lit(cfg["prefix"]), e["k"]).alias("k"),
            e["v"].alias("v")))
    # last-wins duplicate keys (map_from_entries raises on dups)
    rev = F.reverse(entries)
    dedup = F.filter(
        rev,
        lambda x, i: F.array_position(
            F.transform(F.slice(rev, F.lit(1), i), lambda y: y["k"]), x["k"]
        ) == 0,
    )
    new_map = F.map_from_entries(F.reverse(dedup))
    if isinstance(_dtype(df, tgt), T.MapType):
        # ES kv sets target.k fields one by one — it MERGES into an
        # existing object (auditd runs two kv passes into auditd.log),
        # and a key present in BOTH passes APPENDS into a list
        # (IngestDocument.appendFieldValue): canonicalized here as the
        # list's JSON text. Rows with a null source keep the prior map.
        old = _c(tgt)

        def join_vals(_k, v1, v2):
            both = v1.isNotNull() & v2.isNotNull()
            # a '['-prefixed v1 that is not a JSON list (from_json
            # gives null) is a plain value: append it as one element
            appended = F.when(
                v1.startswith("["),
                F.to_json(F.concat(F.coalesce(
                    F.from_json(v1, "array<string>"), F.array(v1)), F.array(v2)))
            ).otherwise(F.to_json(F.array(v1, v2)))
            return F.when(both, appended).otherwise(F.coalesce(v2, v1))

        merged = F.map_zip_with(old, new_map, join_vals)
        new_map = F.when(src.isNull(), old).otherwise(
            F.when(old.isNull(), new_map).otherwise(merged))
    return ({tgt: new_map}, fails, f"field [{fld}] not present")


def _p_csv(df, cfg):
    from beats_spark.processors.parsers import DecodeCsvFields

    fld = cfg["field"]
    targets = cfg["target_fields"]
    if not _has(df, fld):
        if cfg.get("ignore_missing", False):
            return {}, None, None
        return {}, F.lit(True), f"field [{fld}] not present"
    sep = cfg.get("separator", ",")
    tmp = "_ingest_csv"
    proc = DecodeCsvFields(
        fields={fld: tmp}, separator=sep,
        quoted=cfg.get("quote", '"') != "", overwrite_keys=True,
    )
    arr_assign = proc.assigns(df.withColumn(tmp, F.lit(None).cast("string")))
    arr = arr_assign[tmp]
    if cfg.get("trim", False):
        # one-arg lambda on purpose: transform() calls a two-arg callable
        # with (element, index), and F.trim's second param is a trim-SET —
        # F.transform(arr, F.trim) would strip the stringified index chars
        arr = F.transform(arr, lambda x: F.trim(x))
    # a row with fewer values than target_fields leaves the remaining
    # targets unset (ES CsvParser stops at the last value): an existing
    # target keeps its old value there
    assigns = {t: keep_old(df, F.size(arr) > i, F.try_element_at(arr, F.lit(i + 1)),
                           t, T.StringType())
               for i, t in enumerate(targets) if t != ""}
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    return assigns, fails, f"field [{fld}] not present"


_UA_FAMILIES = [
    # (name regex on the UA string, version regex) — a deliberately
    # compact family table standing in for ES's bundled uap-core
    # regexes.yaml (same column contract; swap in a fuller table by
    # passing your own rules).
    ("Edge", r"Edg(?:e|A|iOS)?/(\d+[\w.]*)"),
    ("Opera", r"OPR/(\d+[\w.]*)"),
    ("Chrome Mobile", r"Mobile.*Chrome/(\d+[\w.]*)|Chrome/(\d+[\w.]*).*Mobile"),
    ("Chrome", r"Chrome/(\d+[\w.]*)"),
    ("Firefox", r"Firefox/(\d+[\w.]*)"),
    ("Safari", r"Version/(\d+[\w.]*).*Safari"),
    ("IE", r"MSIE (\d+[\w.]*)|Trident/.*rv:(\d+[\w.]*)"),
    ("curl", r"curl/(\d+[\w.]*)"),
    ("Googlebot", r"Googlebot/(\d+[\w.]*)"),
    ("Other", None),
]
_UA_OS = [
    ("Windows", r"Windows NT (\d+[\d.]*)"),
    ("iOS", r"iPhone OS (\d+[_\d]*)|CPU OS (\d+[_\d]*)"),
    ("Mac OS X", r"Mac OS X (\d+[_\d.]*)"),
    ("Android", r"Android (\d+[\d.]*)"),
    ("Linux", r"Linux"),
    ("Other", None),
]


def _p_user_agent(df, cfg):
    fld = cfg.get("field", "user_agent.original")
    tgt = cfg.get("target_field", "user_agent")
    src = (_c(fld) if _has(df, fld) else F.lit(None)).cast("string")
    name = F.lit("Other")
    version: Column = F.lit(None).cast("string")
    def _ver(rx: str) -> Column:
        # a version-less family pattern ("Linux") has no capture group;
        # regexp_extract(.., 1) would throw REGEX_GROUP_INDEX at runtime
        ngroups = re.compile(rx).groups
        if ngroups == 0:
            return F.lit(None).cast("string")
        v = F.regexp_extract(src, rx, 1)
        ver = F.when(v != "", v)
        if ngroups > 1:
            v2 = F.regexp_extract(src, rx, 2)
            ver = ver.when(v2 != "", v2)
        return ver

    for fam, rx in reversed(_UA_FAMILIES):
        if rx is None:
            continue
        hit = src.rlike(rx)
        ver = _ver(rx)
        name = F.when(hit, F.lit(fam)).otherwise(name)
        version = F.when(hit, F.regexp_replace(ver, "_", ".")).otherwise(version)
    os_name = F.lit("Other")
    os_version: Column = F.lit(None).cast("string")
    for osn, rx in reversed(_UA_OS):
        if rx is None:
            continue
        hit = src.rlike(rx)
        ver = _ver(rx)
        os_name = F.when(hit, F.lit(osn)).otherwise(os_name)
        os_version = F.when(hit, F.regexp_replace(ver, "_", ".")).otherwise(
            os_version)
    device = F.when(
        src.rlike(r"iPhone|Android.*Mobile|Windows Phone"), "Smartphone"
    ).when(src.rlike(r"iPad|Android(?!.*Mobile)"), "Tablet").when(
        src.rlike(r"bot|Bot|crawler|spider"), "Spider"
    ).otherwise(F.lit("Other"))
    assigns = {
        f"{tgt}.name": F.when(src.isNotNull(), name),
        f"{tgt}.version": F.when(src.isNotNull(), version),
        f"{tgt}.os.name": F.when(src.isNotNull(), os_name),
        f"{tgt}.os.version": F.when(src.isNotNull(), os_version),
        f"{tgt}.device.name": F.when(src.isNotNull(), device),
    }
    fails = None if cfg.get("ignore_missing", False) else _missing(df, fld)
    return assigns, fails, f"field [{fld}] not present"


def _p_fingerprint(df, cfg):
    flds = cfg["fields"]
    tgt = cfg.get("target_field", "fingerprint")
    method = cfg.get("method", "SHA-1").lower().replace("-", "")
    src = F.concat_ws("|", *[
        (_c(f) if _has(df, f) else F.lit(None)).cast("string") for f in flds
    ])
    if method == "md5":
        out = F.md5(src)
    elif method in ("sha1", "sha256", "sha512"):
        out = F.sha2(src, int(method[3:]) if method != "sha1" else 0) \
            if method != "sha1" else F.sha1(src)
    else:
        raise IngestCompileError(f"fingerprint: unsupported method {method!r}")
    return {tgt: out}, None, None


# ---------------------------------------------------------------------------
# the pipeline compiler
# ---------------------------------------------------------------------------

_SIMPLE = {
    "set": _p_set,
    "remove": _p_remove,
    "rename": _p_rename,
    "append": _p_append,
    "lowercase": _p_lowercase,
    "uppercase": lambda df, cfg: _p_lowercase(df, cfg, fn=F.upper),
    "trim": lambda df, cfg: _p_lowercase(df, cfg, fn=F.trim),
    "gsub": _p_gsub,
    "split": _p_split,
    "join": _p_join,
    "convert": _p_convert,
    "date": _p_date,
    "urldecode": _p_urldecode,
    "json": _p_json,
    "kv": _p_kv,
    "csv": _p_csv,
    "user_agent": _p_user_agent,
    "fingerprint": _p_fingerprint,
}


@dataclass
class IngestPipeline:
    """A compiled pipeline: call it on a DataFrame.

    ``keep_failed=True`` (default) keeps failed rows with the failure
    message in ``error.message`` — the analogue of ES surfacing the
    ingest error on the indexing response; ``False`` drops them (the
    failure-store-off behavior)."""

    cfg: dict
    pipelines: dict[str, dict] | None = None
    script_handlers: dict[str, Callable[[DataFrame, Column], DataFrame]] | None = None
    geoip_table: DataFrame | None = None
    keep_failed: bool = True

    def __call__(self, df: DataFrame, active: Column | None = None) -> DataFrame:
        """Run the pipeline; under a row mask ``active`` only the active
        rows are processed (the others pass through untouched)."""
        # (path+head → member suffixes) declared by dot_expander: a
        # later `rename` of that OBJECT expands into member renames
        self._dot_objects: dict[str, set] = {}
        # COMPILE-TIME SHADOW: every schema question (column presence,
        # dtypes, the masked-assign type checks) is answered by a FLAT empty
        # frame that mirrors the real frame's schema. Probing the real
        # frame re-analyzes its whole accumulated lineage — ~70
        # processors × several probes each made plan build O(n²)
        # (module_nginx: 9 s of pure Catalyst analysis). The shadow's
        # plan never exceeds depth 1, so each probe is O(columns).
        # Expressions are name-based (F.col), so anything built
        # against the shadow applies verbatim to the real frame.
        self._sp = df.sparkSession
        self._sh = local_frame(self._sp, [], df.schema)
        had_failed = _has(self._sh, FAILED)
        if not had_failed:
            df = self._tx(df, lambda d: d.withColumns({
                FAILED: F.lit(False), ERRMSG: F.lit(None).cast("string")}))
        # active = ~FAILED, re-resolved against the frame at every
        # processor: once a row fails unhandled, every later processor
        # skips it (ES stops executing the chain for a failed document)
        live = ~_c(FAILED) if active is None else ~_c(FAILED) & active
        df = self._chain(df, self.cfg.get("processors") or [], live)
        top_fail = self.cfg.get("on_failure")
        if top_fail:
            df = self._chain(df, top_fail, _c(FAILED))
            df = self._tx(df, lambda d: d.withColumns(
                {FAILED: F.lit(False), ERRMSG: F.lit(None).cast("string")}))
        if had_failed:
            return df
        if not self.keep_failed:
            return df.filter(~_c(FAILED)).drop(FAILED, ERRMSG)
        if _has(self._sh, "error.message"):
            dt = _dtype(self._sh, "error.message")
            cur = _c("error.message")
            err = (F.array(_c(ERRMSG)) if isinstance(dt, T.ArrayType)
                   else _c(ERRMSG).cast(dt))
            merged = F.when(_c(FAILED) & cur.isNull(), err).otherwise(cur)
            df = df.withColumn("error.message", merged)
        else:
            df = df.withColumn(
                "error.message", F.when(_c(FAILED), _c(ERRMSG)))
        return df.drop(FAILED, ERRMSG)

    def _tx(self, df: DataFrame, fn) -> DataFrame:
        """Apply a schema-changing transformation to the real frame AND
        the shadow. The shadow chain is rooted in an empty
        LocalRelation, so its analysis stays cheap as it grows (a
        local_frame-per-step re-flatten costs more in py4j round
        trips than the deeper-but-trivial plan costs in analysis)."""
        self._sh = fn(self._sh)
        return fn(df)

    def _tmp_name(self, kind: str) -> str:
        """A temp column name unique per compiled plan, NOT per chain
        position: an on_failure sub-chain re-enters ``_apply`` at idx 0,
        and a positional name would shadow (then drop) the outer chain's
        still-referenced column."""
        n = self.__dict__.get("_tmp_n", 0)
        self.__dict__["_tmp_n"] = n + 1
        return f"_ingest_{kind}_{n}"

    def _captures(self, df: DataFrame, name: str, capture, *args) -> tuple:
        """``capture(frame, name, *args)`` — :func:`dissect.captures` or
        a pattern's own — on the real frame and the shadow."""
        self._sh = capture(self._sh, name, *args)[0]
        return capture(df, name, *args)

    def _resync(self, df: DataFrame) -> None:
        """Re-derive the shadow from the real frame (after a script
        handler's arbitrary transformations) — one real analysis."""
        self._sh = local_frame(self._sp, [], df.schema)

    def _guard(self, active: Column, cond: str | None) -> Column:
        """``active`` narrowed by a processor's painless ``if``."""
        return active & painless_condition(cond, self._sh) if cond else active

    # -- chain --
    def _chain(self, df: DataFrame, procs: list[dict], active: Column) -> DataFrame:
        for idx, entry in enumerate(procs):
            (name, cfg), = entry.items()
            df = self._one(df, name, dict(cfg) if isinstance(cfg, dict) else cfg,
                           active, idx)
        return df

    def _one(self, df: DataFrame, name: str, cfg: dict, active: Column,
             idx: int) -> DataFrame:
        tag = (cfg or {}).get("tag", f"{name}[{idx}]")
        # structural processors first
        if name == "script":
            handler = (self.script_handlers or {}).get(tag) or (
                self.script_handlers or {}).get(name)
            if handler is None:
                src = (cfg or {}).get("source", "")
                raise IngestCompileError(
                    f"script processor (tag={tag!r}) needs a Painless "
                    "interpreter — supply script_handlers={" + repr(tag) +
                    ": fn} with a (df, active)->df substitute. Source:\n"
                    + str(src)
                )
            df = handler(df, self._guard(active, cfg.get("if")))
            self._resync(df)
            return df
        if name == "pipeline":
            ref = pipeline_ref_name(str(cfg["name"]))
            sub = (self.pipelines or {}).get(ref)
            if sub is None:
                raise IngestCompileError(
                    f"pipeline processor references unknown pipeline "
                    f"{ref!r} — pass pipelines={{name: cfg}}"
                )
            return self._chain(df, sub.get("processors") or [],
                               self._guard(active, cfg.get("if")))
        if name == "dot_expander":
            # flat dotted columns ARE the expanded form here — but
            # record the object this declares so a later rename of the
            # whole object knows its members
            fldx = str((cfg or {}).get("field", ""))
            path = (cfg or {}).get("path")
            if path and "." in fldx:
                head, rest = fldx.split(".", 1)
                self._dot_objects.setdefault(
                    f"{path}.{head}", set()).add(rest)
            return df
        if name == "rename" and (cfg or {}).get("field") in getattr(
                self, "_dot_objects", {}):
            # rename of a dot_expander'd OBJECT → one leaf move per
            # declared member (elasticsearch.audit.node →
            # elasticsearch.node moves node.id / node.name), compiled as
            # ONE processor like the ES rename: its `if` reads the frame
            # before any member moves, an occupied member target fails
            # the whole object (nothing moves), and on_failure runs once
            src0, dst0 = cfg["field"], cfg["target_field"]
            mems = sorted(self._dot_objects[src0])
            assigns: dict[str, Column] = {}
            for mem in mems:
                assigns.update(_p_rename(self._sh, {
                    "field": f"{src0}.{mem}", "target_field": f"{dst0}.{mem}",
                    "ignore_missing": True})[0])
            present = [_c(f"{src0}.{m}").isNotNull() for m in mems
                       if _has(self._sh, f"{src0}.{m}")]
            taken = [_c(f"{dst0}.{m}").isNotNull() for m in mems
                     if _has(self._sh, f"{dst0}.{m}")]
            fails = None
            if present and taken:
                fails = reduce(operator.or_, present) & reduce(operator.or_, taken)
                assigns = masked_assigns(
                    self._sh, ~F.coalesce(fails, F.lit(False)), assigns)
            return self._apply(
                df, assigns, fails, f"field [{dst0}] already exists",
                self._guard(active, cfg.get("if")),
                cfg.get("ignore_failure", False), cfg.get("on_failure"), idx)
        if name == "geoip":
            return self._geoip(df, cfg, self._guard(active, cfg.get("if")))
        if name == "drop":
            # row-level only: the shadow's schema is unchanged
            return df.filter(~F.coalesce(self._guard(active, cfg.get("if")), F.lit(False)))
        if name == "fail":
            cfg = dict(cfg)
            act = self._guard(active, cfg.pop("if", None))
            ignore_failure = cfg.pop("ignore_failure", False)
            on_failure = cfg.pop("on_failure", None)
            return self._apply(
                df, {}, F.lit(True),
                str(cfg.get("message", "Fail processor executed")),
                act, ignore_failure, on_failure, idx)
        if name == "foreach":
            return self._foreach(df, cfg, active, idx)
        if name in ("grok", "dissect"):
            return self._matcher(df, name, cfg, active, idx)
        fn = _SIMPLE.get(name)
        if fn is None:
            raise IngestCompileError(f"unsupported ingest processor {name!r}")

        act = self._guard(active, cfg.pop("if", None))
        ignore_failure = cfg.pop("ignore_failure", False)
        on_failure = cfg.pop("on_failure", None)
        cfg.pop("tag", None)
        cfg.pop("description", None)
        # the per-processor compilers only READ schema and build
        # name-based expressions — hand them the cheap shadow
        assigns, fails, msg = fn(self._sh, cfg)
        return self._apply(df, assigns, fails, msg, act,
                           ignore_failure, on_failure, idx)

    def _apply(self, df: DataFrame, assigns: dict[str, Column],
               fails: Column | None, msg: str | Column | None, act: Column,
               ignore_failure: bool, on_failure: list | None,
               idx: int) -> DataFrame:
        act = F.coalesce(act, F.lit(False))
        msg_col = msg if isinstance(msg, Column) else F.lit(msg)
        if fails is None or ignore_failure:
            fail_now: Column = F.lit(False)
        else:
            fail_now = act & F.coalesce(fails, F.lit(False))
        tmp = self._tmp_name("of")
        df = self._tx(df, lambda d: d.withColumn(tmp, fail_now))
        ok = act & ~_c(tmp)
        wrapped = masked_assigns(self._sh, ok, assigns)
        if wrapped:
            df = self._tx(df, lambda d: d.withColumns(wrapped))
        if on_failure:
            df = df.withColumn(
                ERRMSG, F.when(_c(tmp), msg_col).otherwise(_c(ERRMSG)))
            df = self._chain(df, on_failure, _c(tmp))
            # handled: the document continues (ES on_failure semantics) —
            # but a processor INSIDE the sub-chain that itself failed
            # unhandled sets FAILED; keep its diagnostic, only clear the
            # recovered rows
            df = df.withColumn(
                ERRMSG,
                F.when(_c(tmp) & ~_c(FAILED), F.lit(None))
                .otherwise(_c(ERRMSG)))
        elif fails is not None and not ignore_failure:
            # newly-failing rows take THIS processor's message (a row
            # failing inside an on_failure sub-chain has the outer msg
            # staged in ERRMSG — the inner diagnostic must win, like the
            # ES exception propagating out of the on_failure handler);
            # already-FAILED rows keep their first message
            df = df.withColumns({
                FAILED: _c(FAILED) | _c(tmp),
                ERRMSG: F.when(_c(tmp) & ~_c(FAILED), msg_col)
                .otherwise(_c(ERRMSG)),
            })
        return self._tx(df, lambda d: d.drop(tmp))

    # -- grok / dissect --
    def _matcher(self, df: DataFrame, name: str, cfg: dict, active: Column,
                 idx: int) -> DataFrame:
        cfg = dict(cfg)
        act = self._guard(active, cfg.pop("if", None))
        ignore_failure = cfg.pop("ignore_failure", False)
        on_failure = cfg.pop("on_failure", None)
        ignore_missing = cfg.pop("ignore_missing", False)
        cfg.pop("tag", None)
        cfg.pop("description", None)
        fld = cfg["field"]
        src = _get(self._sh, fld)
        src = F.lit(None).cast("string") if src is None else src.cast("string")

        if name == "grok":
            from beats_spark.processors.grok import GrokPattern

            pats = [GrokPattern(p, cfg.get("pattern_definitions"),
                                require_captures=False)
                    for p in cfg["patterns"]]
            assigns: dict[str, Column] = {}
            matched = F.lit(False)
            grok_tmps: list[str] = []
            for pat in pats:
                if pat.regex == "" and not pat.semantics:
                    # "" in a pattern list matches anything (e.g. nginx)
                    matched = matched | src.isNotNull()
                    continue
                pname = self._tmp_name("grok")
                grok_tmps.append(pname)
                # ES ingest grok is SEARCH semantics (joni matcher.search):
                # a pattern matching any substring of the field matches the
                # document; anchored(False) is the whole-line search rewrite.
                # First match wins: rows already claimed by an earlier
                # pattern skip this pattern's regex (CASE WHEN branches
                # evaluate lazily), so most rows pay for ONE search.
                rx = pat.anchored(False)
                if not pat.semantics:
                    # capture-less pattern: a pure match predicate
                    df = self._tx(df, lambda d: once(
                        d, pname, F.when(~matched, src.rlike(rx))))
                    matched = matched | F.coalesce(_c(pname), F.lit(False))
                    continue
                df, ok, group = self._captures(df, pname, captures, src, rx,
                                               pat.ngroups, ~matched)
                for key, col in pat.fields(group).items():
                    cur = F.when(ok, col)
                    prev = assigns.get(key)
                    assigns[key] = cur if prev is None else F.coalesce(prev, cur)
                matched = matched | ok
            fails = ~matched
            if ignore_missing:
                fails = src.isNotNull() & ~matched
            msg = "Provided Grok expressions do not match field value"
            # grok only sets fields on the matching rows, and — like the
            # joni kernel — never writes a field whose named group did
            # not participate in the match (an alternation branch that
            # lost): pre-existing values survive a null capture
            new = {}
            for k, v in assigns.items():
                odt = _dtype(self._sh, k) if _has(self._sh, k) else None
                # another branch (e.g. a split processor) may hold the
                # column as an array: the capture lands as 1 element
                new[k] = (F.array(v.cast(odt.elementType))
                          if isinstance(odt, T.ArrayType) else v)
            have = [k for k in new if _has(self._sh, k)]
            ndts = self._sh.select(*(new[k] for k in have)).schema if have else []
            types = {k: f.dataType for k, f in zip(have, ndts)}
            assigns = {k: keep_old(self._sh, matched & v.isNotNull(), new[k], k,
                                   types.get(k)) for k, v in assigns.items()}
            df = self._apply(df, assigns, fails, msg, act,
                             ignore_failure, on_failure, idx)
            return self._tx(df, lambda d: d.drop(*grok_tmps))

        # dissect
        from beats_spark.dissect import DissectPattern

        pat = DissectPattern(cfg["pattern"])
        if pat.regex is None:
            raise IngestCompileError(
                "dissect: pointer/indirect keys (%{*k}/%{&k}) are not "
                f"supported in the ingest compiler: {cfg['pattern']!r}"
            )
        pname = self._tmp_name("dissect")
        df, matched, group = self._captures(df, pname, pat.captures, src)
        tmp_cols = pat.extract_columns(group)
        # ES dissect types via %{key} only (no :type); apply declared casts
        for key in list(tmp_cols):
            dtype = pat.key_dtype(key)
            if dtype:
                tmp_cols[key] = tmp_cols[key].try_cast(dtype)
        fails = ~matched
        if ignore_missing:
            fails = src.isNotNull() & ~matched
        assigns = {k: F.when(matched, v) for k, v in tmp_cols.items()}
        df = self._apply(
            df, assigns, fails,
            "Unable to find match for dissect pattern", act,
            ignore_failure, on_failure, idx)
        return self._tx(df, lambda d: d.drop(pname))

    # -- foreach --
    def _foreach(self, df: DataFrame, cfg: dict, active: Column,
                 idx: int) -> DataFrame:
        cfg = dict(cfg)
        active = self._guard(active, cfg.pop("if", None))
        ignore_failure = cfg.pop("ignore_failure", False)
        on_failure = cfg.pop("on_failure", None)
        cfg.pop("tag", None)
        cfg.pop("description", None)
        fld = cfg["field"]
        (sub_name, sub_cfg), = cfg["processor"].items()
        ignore_missing = cfg.pop("ignore_missing", False)
        if ignore_missing and not _has(self._sh, fld):
            return df
        fails = None if ignore_missing else _missing(self._sh, fld)
        msg = f"field [{fld}] not present"
        src = (_c(fld) if _has(self._sh, fld)
               else F.lit(None).cast("array<string>"))
        elem_fns = {"lowercase": F.lower, "uppercase": F.upper, "trim": F.trim}
        if sub_name in elem_fns and sub_cfg.get("field") == "_ingest._value":
            fn = elem_fns[sub_name]
            out = F.transform(src, lambda x: fn(x))
            return self._apply(df, {fld: out}, fails, msg, active,
                               ignore_failure, on_failure, idx)
        if sub_name == "gsub" and sub_cfg.get("field") == "_ingest._value":
            out = F.transform(src, lambda x: F.regexp_replace(
                x, sub_cfg["pattern"], sub_cfg["replacement"]))
            return self._apply(df, {fld: out}, fails, msg, active,
                               ignore_failure, on_failure, idx)
        if (sub_name == "append"
                and sub_cfg.get("value") == "{{_ingest._value}}"):
            # append each element to another array field == array concat
            tgt = sub_cfg["field"]
            base = (_c(tgt) if _has(self._sh, tgt)
                    else F.lit(None)).cast("array<string>")
            out = F.concat(F.coalesce(base, F.array().cast("array<string>")),
                           F.coalesce(src.cast("array<string>"),
                                      F.array().cast("array<string>")))
            return self._apply(df, {tgt: out}, fails, msg, active,
                               ignore_failure, on_failure, idx)
        raise IngestCompileError(
            f"foreach: unsupported element processor {sub_name!r} "
            f"(supported: lowercase/uppercase/trim/gsub on _ingest._value, "
            f"append of {{{{_ingest._value}}}})"
        )

    # -- geoip --
    def _geoip(self, df: DataFrame, cfg: dict, active: Column) -> DataFrame:
        """Broadcast-join a caller-supplied exact-IP lookup table (cols:
        ``ip`` + geo fields). Without one this is a documented no-op —
        the sandbox has no MaxMind database, mirroring the reference's
        'requires the geoip plugin' footnote."""
        if self.geoip_table is None:
            return df
        fld = cfg["field"]
        tgt = cfg.get("target_field", "geoip")
        src = (_c(fld) if _has(self._sh, fld)
               else F.lit(None)).cast("string")
        geo = self.geoip_table
        renamed = geo.select(
            F.col("ip").alias("_geo_ip"),
            *[F.col(c).alias(f"{tgt}.{c}") for c in geo.columns if c != "ip"],
        )
        def tx(d):
            return d.withColumn("_geo_key", F.when(
                F.coalesce(active, F.lit(False)), src)).join(
                F.broadcast(renamed),
                F.col("_geo_key") == F.col("_geo_ip"), "left"
            ).drop("_geo_key", "_geo_ip")
        return self._tx(df, tx)


def compile_ingest_pipeline(
    cfg: dict | str,
    *,
    pipelines: dict[str, dict] | None = None,
    script_handlers: dict[str, Callable] | None = None,
    geoip_table: DataFrame | None = None,
    keep_failed: bool = True,
) -> IngestPipeline:
    """Compile an ES ingest pipeline definition (dict, YAML/JSON text,
    or a path) into a DataFrame → DataFrame transform.

    When ``cfg`` is a path, sibling ``*.yml``/``*.json`` files in the
    same directory are auto-loaded as referenceable sub-pipelines
    (keyed by file stem) — the layout Filebeat's module build uses for
    `{< IngestPipeline "pipeline-plaintext" >}` references."""
    if isinstance(cfg, str):
        if cfg.endswith((".yml", ".yaml", ".json")):
            import glob as _glob
            import os as _os

            d = _os.path.dirname(cfg)
            sibs = {}
            for p in sorted(_glob.glob(_os.path.join(d, "*.yml"))
                            + _glob.glob(_os.path.join(d, "*.yaml"))
                            + _glob.glob(_os.path.join(d, "*.json"))):
                if _os.path.abspath(p) == _os.path.abspath(cfg):
                    continue
                stem = _os.path.splitext(_os.path.basename(p))[0]
                try:
                    sibs[stem] = load_ingest_pipeline(p)
                except Exception:
                    pass  # an unparseable sibling only matters if referenced
            if sibs:
                pipelines = {**sibs, **(pipelines or {})}
        cfg = load_ingest_pipeline(cfg)
    return IngestPipeline(
        cfg, pipelines=pipelines, script_handlers=script_handlers,
        geoip_table=geoip_table, keep_failed=keep_failed,
    )


# registry face: slots an ingest pipeline into a LogPipeline chain
from beats_spark.processors.base import Proc, register, scoped  # noqa: E402


@register("ingest_pipeline")
class IngestProc(Proc):
    def __init__(self, **kwargs):
        definition = kwargs.pop("definition")
        self._compiled = compile_ingest_pipeline(definition, **kwargs)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return scoped(df, active, self, self._compiled)
