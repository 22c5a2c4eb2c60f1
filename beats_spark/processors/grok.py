"""Grok pattern parser, Spark-first.

The north rule's parse stage is "vectorized grok/regex parse of raw
event lines". ``dissect`` covers the positional-tokenizer half; this
module covers the named-pattern half: the grok expression language
``%{SYNTAX}``, ``%{SYNTAX:field}``, ``%{SYNTAX:field:type}`` over a
library of named regex patterns, as popularized by the Elasticsearch
ingest grok processor / Logstash grok filter (public pattern-name
convention; every regex below is written from scratch, simplified to
the subset that is valid in BOTH Java (Spark JVM) and RE2 (DuckDB
oracle) dialects — no lookaround, no atomic groups, no backrefs).

The grok expression compiles to ONE regex in which every named
semantic is one capturing group (all library-internal groups are
rewritten to non-capturing), parsed by ``dissect.captures``.

Grok semantics kept:

- unanchored match (leftmost occurrence), like the ingest processor;
  pass ``anchor=True`` to require a whole-line match.
- nested semantics all extract: ``%{COMMONAPACHELOG}`` with no field
  name still yields ``clientip``, ``verb``, ``response``, ... from the
  named semantics inside the library pattern.
- duplicate field names coalesce to the first non-empty capture.
- types: ``int`` → long, ``float`` → double (the ingest processor's
  two conversion types).
- on failure the row is kept with null outputs and
  ``_grok_parse_failure`` appended to ``flags_col`` (the Logstash
  failure-tag convention), suppressed by ``ignore_failure``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import assign_where
from beats_spark.dissect import captures, flag_failures

PARSE_ERROR_FLAG = "_grok_parse_failure"

# Pattern library. Names follow the public grok convention; regexes are
# original, restricted to the Java∩RE2 common dialect.
GROK_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"[+-]?[0-9]+",
    "NONNEGINT": r"[0-9]+",
    "POSINT": r"[1-9][0-9]*",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9A-Fa-f]+",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    # simplified: no escaped-quote handling (needs backrefs/lookarounds,
    # which the RE2 oracle dialect lacks)
    "QUOTEDSTRING": "\"[^\"]*\"|'[^']*'",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    ),
    # simplified v6: hex groups with at most one '::' elision
    # covers full form, interior ::, leading :: ("::1", "::"), and an
    # optional %zone-id suffix (the upstream grok IPV6 ends `(%.+)?`;
    # bounded here to the zone charset so captures don't overrun)
    "IPV6": r"(?:(?:[0-9A-Fa-f]{1,4}:){1,7}(?:[0-9A-Fa-f]{1,4})?"
            r"(?:::(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?)?"
            r"|::(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?)"
            r"(?:%[0-9A-Za-z]+)?",
    "IP": r"(?:%{IPV4}|%{IPV6})",
    "HOSTNAME": (
        r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}"
        r"(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b"
    ),
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "MONTH": (
        r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|"
        r"Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|"
        r"Nov(?:ember)?|Dec(?:ember)?)\b"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"[0-5][0-9]",
    "SECOND": r"(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}"
        r"(?::?%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME}(?: %{INT})?",
    "DAY": (
        r"\b(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|"
        r"Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)\b"
    ),
    "TZ": r"[A-Z]{3,4}",
    "SYSLOGHOST": r"%{IPORHOST}",
    # RFC-3164 TAG charset: printable ASCII minus the separators
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOG5424PRI": r"<[0-9]+>",
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "BASE16FLOAT": (
        r"\b(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?"
        r"|\.[0-9A-Fa-f]+)\b"
    ),
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVALOGMESSAGE": r"(?:.*)",
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"%{WORD}",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|"
        r"NOTICE|[Ii]nfo(?:rmation)?|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|"
        r"[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|"
        r"[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)"
    ),
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{NOTSPACE:ident} %{NOTSPACE:auth} "
        r"\[%{HTTPDATE:timestamp}\] "
        "\"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?"
        "|%{DATA:rawrequest})\" "
        r"%{NONNEGINT:response:int} (?:%{NONNEGINT:bytes:int}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w@.\[\]]+))?(?::(\w+))?\}")
_TYPE_CAST = {"int": "long", "long": "long", "float": "double", "double": "double"}


def _noncapture(rx: str, named=None) -> str:
    """Rewrite every bare capturing ``(`` in a regex fragment to
    ``(?:`` (escape- and character-class-aware) so library-internal and
    user-written groups never shift the semantic group numbering.

    ``named(name) -> bool``: optional registrar for named groups
    ``(?<n>…)`` / ``(?P<n>…)`` / ``(?'n'…)``. Joni (ES grok) captures
    named groups as FIELDS — GrokPattern passes a registrar that
    assigns the next semantic group number and keeps the group
    capturing (emits a bare ``(``). Without a registrar (plain
    fragment rewriting), named groups are demoted to non-capturing."""
    out: list[str] = []
    i, n = 0, len(rx)
    while i < n:
        c = rx[i]
        if c == "\\" and i + 1 < n:
            if rx.startswith(r"\k<", i):
                # a named backreference would dangle once its group is
                # demoted below — fail at compile time, not inside
                # regexp_extract on the executors.
                raise ValueError(
                    "grok pattern definitions may not use named "
                    f"backreferences (\\k<...>): {rx!r}"
                )
            out.append(rx[i : i + 2])
            i += 2
            continue
        if c == "[":  # character class: copy verbatim up to the closing ]
            j = i + 1
            if j < n and rx[j] == "^":
                j += 1
            if j < n and rx[j] == "]":  # leading ] is a literal
                j += 1
            while j < n and rx[j] != "]":
                j += 2 if rx[j] == "\\" else 1
            out.append(rx[i : min(j + 1, n)])
            i = j + 1
            continue
        if c == "(":
            if not rx.startswith("(?", i):
                out.append("(?:")
                i += 1
                continue
            # named groups still CAPTURE — '(?<name>' (Java) and
            # '(?P<name>' (PCRE) would silently shift the semantic
            # $g numbering of every field after them; demote them to
            # non-capturing too. Lookbehinds '(?<=' / '(?<!' are
            # already non-capturing and pass through untouched.
            if rx.startswith("(?P=", i):
                raise ValueError(
                    "grok pattern definitions may not use named "
                    f"backreferences ((?P=name)): {rx!r}"
                )
            m = re.match(r"\(\?P?<(?![=!])(?P<n1>[^>]*)>", rx[i:])
            if m is None:
                # Oniguruma's alternate named-group spelling (?'name'
                # (kafka module) — same handling
                m = re.match(r"\(\?'(?P<n2>[^']*)'", rx[i:])
            if m:
                name = m.groupdict().get("n1") or m.groupdict().get("n2")
                if named is not None and named(name):
                    out.append("(")
                else:
                    out.append("(?:")
                i += m.end()
                continue
        if c == "{" and not re.match(r"\{\d+(?:,\d*)?\}", rx[i:]):
            # joni treats a bare `{` (not opening a {m,n} quantifier)
            # as a literal; java.util.regex throws — escape it
            # (logstash slowlog patterns start with `{:plugin...`)
            out.append(r"\{")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


_STAR_ALT = re.compile(r"^\(([^()\[\]]*)\)([*+])$")


def _simplify_star_alternation(rx: str) -> str:
    """Rewrite `(.|\\n|\\t)*`-shaped definitions (the module pipelines'
    custom GREEDYDATA/GREEDYMULTILINE) to an equivalent character
    class. java.util.regex evaluates a starred single-char alternation
    with one recursion frame per character — a multi-KB multiline event
    overflows the JVM stack (observed: elasticsearch server test logs
    killing the executor). `(?:.|\\n)*` ≡ `[\\s\\S]*` and backtracks in
    constant stack."""
    m = _STAR_ALT.match(rx.strip())
    if not m:
        return rx
    parts = m.group(1).split("|")
    if "." not in parts:
        return rx
    others = [p for p in parts if p != "."]
    # every other branch must be whitespace-ish (an escape or literal
    # blanks) so dot-or-class subsumption below is exact
    if not all(re.fullmatch(r"\\[ntrf]|\s+", p) for p in others):
        return rx
    crosses_newline = any(p in ("\\n", "\n") for p in others)
    return ("[\\s\\S]" if crosses_newline else ".") + m.group(2)


@dataclass
class _Semantic:
    name: str
    group: int
    dtype: str  # spark cast type name, or "string"


class GrokPattern:
    """A compiled grok expression: one combined regex + the ordered
    list of (field name, capture group, type)."""

    def __init__(self, expr: str, pattern_definitions: dict[str, str] | None = None,
                 require_captures: bool = True):
        self.expr = expr
        self.defs = dict(GROK_PATTERNS)
        if pattern_definitions:
            self.defs.update(pattern_definitions)
        self.semantics: list[_Semantic] = []
        self.ngroups = 0
        self.regex = self._compile(expr, depth=0)
        if not self.semantics and require_captures:
            # the ES ingest grok accepts capture-less patterns as pure
            # match predicates (require_captures=False); the Beats grok
            # processor contract requires at least one field
            raise ValueError(f"grok expression has no named captures: {expr!r}")
        # dev-time guard: the combined pattern must be a valid regex
        # (python's dialect is a superset of the Java∩RE2 subset used here)
        re.compile(self.regex)

    def _compile(self, expr: str, depth: int) -> str:
        if depth > 20:
            raise ValueError("grok pattern recursion too deep (cycle?)")
        def register_named(name: str) -> bool:
            # joni captures named groups as fields (ES grok semantics)
            self.ngroups += 1
            self.semantics.append(_Semantic(name, self.ngroups, "string"))
            return True

        out: list[str] = []
        pos = 0
        for m in _GROK_REF.finditer(expr):
            out.append(_noncapture(expr[pos : m.start()], register_named))
            syntax, field, dtype = m.group(1), m.group(2), m.group(3)
            if syntax not in self.defs:
                raise KeyError(f"unknown grok pattern %{{{syntax}}}")
            body = _simplify_star_alternation(self.defs[syntax])
            if field:
                self.ngroups += 1
                self.semantics.append(
                    _Semantic(field, self.ngroups, _TYPE_CAST.get(dtype or "", "string"))
                )
                out.append("(")
                out.append(self._compile(body, depth + 1))
                out.append(")")
            else:
                out.append("(?:")
                out.append(self._compile(body, depth + 1))
                out.append(")")
            pos = m.end()
        out.append(_noncapture(expr[pos:], register_named))
        return "".join(out)

    @property
    def output_keys(self) -> list[str]:
        seen: list[str] = []
        for s in self.semantics:
            if s.name not in seen:
                seen.append(s.name)
        return seen

    def anchored(self, anchor: bool) -> str:
        # Neither form puts the pattern body in DOTALL: joni does not,
        # so a `.*` inside the pattern must stop at a newline exactly
        # like it does in ES (multiline events depend on this — e.g.
        # the kafka module's stack-trace split). \z pins the absolute
        # end so a trailing newline can't leak into the last capture.
        core = self.regex
        if anchor:
            return "^(?:" + core + ")\\z"
        # leftmost-match search semantics as a whole-string rewrite; the
        # skip and the tail are explicit [\s\S] classes
        return "^[\\s\\S]*?(?:" + core + ")[\\s\\S]*\\z"

    def fields(self, group) -> dict[str, Column]:
        """One Column per output key from the capture reader ``group``
        (see ``dissect.captures``): an empty capture is null, duplicate
        names coalesce to the first non-empty capture, typed semantics
        try_cast. Gate the result with the match flag."""
        by_key: dict[str, list[_Semantic]] = {}
        for s in self.semantics:
            by_key.setdefault(s.name, []).append(s)
        out: dict[str, Column] = {}
        for key, sems in by_key.items():
            vals = [F.when(group(s.group) != "", group(s.group)) for s in sems]
            col = F.coalesce(*vals) if len(vals) > 1 else vals[0]
            out[key] = col if sems[0].dtype == "string" else col.try_cast(sems[0].dtype)
        return out

    # ---------- python reference implementation (tests / oracle) ----------

    def parse(self, s: str | None, anchor: bool = False) -> dict[str, str] | None:
        if s is None:
            return None
        m = (re.fullmatch if anchor else re.search)(self.regex, s)
        if m is None:
            return None
        out: dict[str, str] = {}
        for sem in self.semantics:
            v = m.group(sem.group)
            if v not in (None, "") and out.get(sem.name) in (None, ""):
                out[sem.name] = v
            out.setdefault(sem.name, None if v in (None, "") else v)
        return out


def grok(
    df: DataFrame,
    expr: str,
    field: str = "message",
    target_prefix: str = "grok",
    pattern_definitions: dict[str, str] | None = None,
    anchor: bool = False,
    flags_col: str = "log_flags",
    ignore_failure: bool = False,
    active: Column | None = None,
) -> DataFrame:
    """Apply a grok expression to ``df[field]``.

    Output fields land as a struct column ``target_prefix`` (or as
    top-level columns when ``target_prefix == ""``). One regex
    evaluation per row regardless of field count. Empty captures
    surface as null. Rows outside the mask ``active`` keep every field,
    unflagged.
    """
    pat = GrokPattern(expr, pattern_definitions)
    parts_col = "_grok_parts"
    df, ok, group = captures(df, parts_col, F.col(field), pat.anchored(anchor),
                             pat.ngroups, active)
    out_cols = {k: F.when(ok, c) for k, c in pat.fields(group).items()}
    if target_prefix:
        out_cols = {target_prefix: F.when(
            ok, F.struct(*[c.alias(k) for k, c in out_cols.items()]))}
    if not ignore_failure:
        out_cols[flags_col] = flag_failures(df, ok, flags_col, PARSE_ERROR_FLAG)
    return assign_where(df, active, out_cols).drop(parts_col)


from beats_spark.processors.base import Proc, register  # noqa: E402


@register("grok")
class Grok(Proc):
    """Registry face of :func:`grok`."""

    def __init__(self, **kwargs):
        self.expr = kwargs.pop("expr")
        self.kwargs = kwargs

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return grok(df, self.expr, active=active, **self.kwargs)
