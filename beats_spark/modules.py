"""Filebeat module pipelines — the TiDB module family.

The reference ships per-technology "modules": canned input configs
(multiline rules) plus processor chains that turn a raw component log
into typed ECS-ish events. This fork's distinctive family is the TiDB
module (``filebeat/module/tidb/``): nine filesets over TWO log shapes,

- the **unified log format** shared by tidb / tikv / pd / tiflash /
  ticdc / br / dm / lightning / ngm
  (``filebeat/module/tidb/tidb/config/input.yml``): multiline on a
  leading-timestamp pattern, dissect of
  ``[%{time}] [%{log.level}] [%{log.logger}] %{tidb.body}``, a Go-layout
  timestamp parse, then a goja script that splits the body into a
  quoted message plus ``[k=v]`` pairs;
- the **TiDB slow log** (``filebeat/module/tidb/slowlog/config/input.yml``):
  ``# Time:``-delimited multiline blocks whose ``#`` lines carry
  ``key: value`` pairs (floats detected by a JS round-trip test) and
  whose remaining lines are the SQL text.

Both parsers here are bug-for-bug ports of the module scripts'
OBSERVABLE semantics, pinned against the module's own golden fixtures
(``filebeat/module/tidb/*/test/*-expected.json``) in
``tests/test_tidb_module.py``:

- an unquoted ``[message]`` puts a NULL message (the script reads the
  quoted-alternative capture group, which is undefined) and still
  parses the k-vs;
- the FIRST ``[k=v]`` pair that fails the kv regex aborts the loop:
  earlier pairs are kept, ``body`` is retained (not deleted), later
  pairs — even valid ones — are never read;
- duplicate keys are last-wins; quotes around keys or values are
  stripped but never unescaped;
- slowlog values parse as numbers iff
  ``String(parseFloat(v)).length === v.length`` — a LENGTH comparison
  against JS's shortest-round-trip decimal rendering, so ``"1.0"`` and
  ``"0.0000001"`` stay strings while an 18-digit integer becomes a
  precision-lossy double (which is why ``Txn_start_ts`` / ``Conn_ID``
  are special-cased to strings);
- non-``#`` slowlog lines are concatenated into ``Query`` with NO
  separator; blocks with a null message or fewer than 3 lines are
  cancelled (dropped).

Scale: the unified parser is pure whole-stage-codegen column
expressions — two anchored regex probes, one regex split, and array
folds; zero joins, zero Python. The slow-log parser is ONE
Arrow-batched ``mapInPandas`` (the JS number-rendering rule cannot be
expressed with built-in expressions); both are narrow maps that
preserve the upstream partitioning, so they compose with the reader /
multiline stages at any scale.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import once

__all__ = [
    "UNIFIED_FILESETS",
    "UNIFIED_MULTILINE_PATTERN",
    "SLOWLOG_MULTILINE_PATTERN",
    "unified_log_parse",
    "slowlog_parse",
    "module_metadata",
]

# input.yml multiline rules (negate=True, match="after" for both)
UNIFIED_MULTILINE_PATTERN = (
    r"^\[[0-9]{4}/[0-9]{2}/[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}"
    r"|^[0-9]{4}/[0-9]{2}/[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}"
)
SLOWLOG_MULTILINE_PATTERN = r"^# Time: "

# filesets that share the unified-log-format parser (module.yml)
UNIFIED_FILESETS = (
    "tidb", "tikv", "pd", "tiflash", "ticdc", "br", "dm", "lightning",
    "ngm",
)

# the module script's exact regexes (goja → Java: both leftmost-
# alternative, lazy quantifiers — identical semantics here)
_MSG_QUOTED = r'^\["(.+?)"] ?'
_MSG_PLAIN = r'^\[([^"]+?)] ?'
_KV_SPLIT = r"] \["
_KV_PAT = r'^(".+?"|[^"]+?)=(".+?"|[^"]+?)$'

# Go layout '2006/01/02 15:04:05.999 -07:00' (.999 = optional fraction)
_TIME_LAYOUTS = ("yyyy/MM/dd HH:mm:ss.SSS XXX", "yyyy/MM/dd HH:mm:ss XXX")


def _strip_quotes(c: Column) -> Column:
    """JS: strip one layer of surrounding double quotes, no unescape."""
    quoted = c.startswith('"') & c.endswith('"') & (F.length(c) >= 2)
    return F.when(quoted, F.substring(c, 2, F.length(c) - 2)).otherwise(c)


def module_metadata(df: DataFrame, fileset: str,
                    module: str = "tidb") -> DataFrame:
    """The module's constant event metadata (manifest.yml adds)."""
    return df.withColumns({
        "event_module": F.lit(module),
        "event_dataset": F.lit(f"{module}.{fileset}"),
        "fileset_name": F.lit(fileset),
        "service_type": F.lit(module),
        "input_type": F.lit("log"),
    })


def unified_log_parse(df: DataFrame, fileset: str = "tidb",
                      message_col: str = "message") -> DataFrame:
    """Parse unified-log-format events (already multiline-merged).

    Adds ``ts`` (UTC timestamp), ``log_level``, ``log_logger``,
    ``body`` (the residual ``tidb.body``, NULL once fully consumed),
    ``kv`` (map<string,string> of the extracted pairs, keys WITHOUT the
    ``tidb.<fileset>.`` prefix, last-wins) and rewrites ``message_col``
    with the script's message semantics. A line the dissect stage
    cannot split keeps its original message and null everything else
    (``ignore_failure: true`` + the conditional drop_fields).

    Plan shape: anchored regex probes + one regex split + array folds —
    all whole-stage codegen, no shuffle, no Python.
    """
    from beats_spark.dissect import dissect

    d = dissect(
        df,
        "[%{time}] [%{level}] [%{logger}] %{body}",
        field=message_col,
        target_prefix="",
        convert_types=False,
        ignore_failure=True,
    )

    raw = F.col("body")
    # each message probe feeds outputs in several stacked projections
    # (three copies of each otherwise): evaluate it once
    d = once(d, "_msg_q", F.regexp_extract(raw, _MSG_QUOTED, 0))
    d = once(d, "_msg_u", F.when(F.col("_msg_q") == "",
                                 F.regexp_extract(raw, _MSG_PLAIN, 0)))
    q_full, u_full = F.col("_msg_q"), F.col("_msg_u")
    is_q = raw.isNotNull() & (q_full != "")
    is_u = raw.isNotNull() & ~is_q & (u_full != "")
    matched = is_q | is_u
    full_len = F.when(is_q, F.length(q_full)).when(is_u, F.length(u_full))

    # JS .trim() strips ALL whitespace (a joined blank line leaves a
    # trailing \n); Spark's trim() strips only spaces — use a regex.
    d = d.withColumn("_kvs", F.when(
        matched,
        F.regexp_replace(raw.substr(full_len + 1, F.length(raw)),
                         r"^\s+|\s+$", ""),
    ))
    kvs = F.col("_kvs")
    # JS substring(1, len-1): swaps bounds when len==1 → the char itself
    inner = F.when(F.length(kvs) == 1, kvs).otherwise(
        F.substring(kvs, 2, F.length(kvs) - 2))
    d = d.withColumn(
        "_parts",
        F.when(
            matched,
            F.when(F.length(kvs) > 0, F.split(inner, _KV_SPLIT))
            .otherwise(F.array().cast("array<string>")),
        ),
    )
    parts = F.col("_parts")

    oks = F.transform(parts, lambda p: p.rlike(_KV_PAT))
    first_bad = F.array_position(oks, F.lit(False))
    n_ok = F.when(first_bad == 0, F.size(parts)).otherwise(first_bad - 1)
    aborted = parts.isNotNull() & (first_bad != 0)

    pairs = F.transform(
        F.slice(parts, F.lit(1), n_ok),
        lambda p: F.struct(
            _strip_quotes(F.regexp_extract(p, _KV_PAT, 1)).alias("k"),
            _strip_quotes(F.regexp_extract(p, _KV_PAT, 2)).alias("v"),
        ),
    )
    # last-wins duplicates: keep each key's LAST occurrence
    rev = F.reverse(pairs)
    dedup = F.filter(
        rev,
        lambda x, i: F.array_position(
            F.transform(F.slice(rev, F.lit(1), i), lambda y: y["k"]),
            x["k"],
        ) == 0,
    )
    kv = F.when(matched, F.map_from_entries(F.reverse(dedup)))

    message = F.when(
        raw.isNull(), F.col(message_col)  # dissect failed: keep line
    ).when(is_q, F.regexp_extract(raw, _MSG_QUOTED, 1)) \
        .otherwise(F.lit(None).cast("string"))  # plain → undefined Put

    # body survives when the script returned early: no message match,
    # or a kv pair failed mid-loop
    body_out = F.when(raw.isNotNull() & (~matched | aborted), raw)

    ts = F.coalesce(*[
        F.try_to_timestamp(F.col("time"), F.lit(p)) for p in _TIME_LAYOUTS
    ])

    return (
        d.withColumns({
            "ts": ts,
            "log_level": F.col("level"),
            "log_logger": F.col("logger"),
            message_col: message,
            "kv": kv,
            "body": body_out,
        })
        .drop("time", "level", "logger", "_kvs", "_parts", "_msg_q", "_msg_u")
    )


# --------------------------------------------------------------------------
# slow log
# --------------------------------------------------------------------------

_LINE_RE = re.compile(r"[^\r\n]+")
_SLOW_KV_RE = re.compile(r"(\S+): (\S+)")
_PARSEFLOAT_RE = re.compile(
    r"^[+-]?(Infinity|\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?)")
_STRING_KEYS = ("Txn_start_ts", "Conn_ID")


def _js_parse_float(s: str) -> float:
    """ECMA parseFloat: longest numeric prefix, else NaN."""
    m = _PARSEFLOAT_RE.match(s.strip())
    if m is None:
        return float("nan")
    return float(m.group(0).replace("Infinity", "inf"))


def _js_number_string(x: float) -> str:
    """ECMA Number::toString(10): shortest round-trip digits, decimal
    notation for 1e-6 <= |x| < 1e21, exponential outside."""
    if x != x:
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    if x == 0:
        return "0"
    sign = "-" if x < 0 else ""
    # repr() is the shortest round-trip decimal; normalize to digits+exp
    mant, _, exp = repr(abs(x)).partition("e")
    e = int(exp) if exp else 0
    int_part, _, frac_part = mant.partition(".")
    digits = (int_part + frac_part).lstrip("0")
    # decimal point position relative to the first significant digit
    n = len(int_part.lstrip("0")) + e if int_part.strip("0") else \
        -(len(frac_part) - len(frac_part.lstrip("0"))) + e
    digits = digits.rstrip("0") or "0"
    k = len(digits)
    if k <= n <= 21:
        return sign + digits + "0" * (n - k)
    if 0 < n <= 21:
        return sign + digits[:n] + "." + digits[n:]
    if -6 < n <= 0:
        return sign + "0." + "0" * (-n) + digits
    # exponential
    head = digits[0] + ("." + digits[1:] if k > 1 else "")
    return f"{sign}{head}e{'+' if n - 1 >= 0 else '-'}{abs(n - 1)}"


def _slow_value(k: str, v: str) -> tuple[str | None, float | None]:
    """(string value, numeric value) — exactly one is non-None."""
    if k in _STRING_KEYS:
        return v, None
    f = _js_parse_float(v)
    if len(_js_number_string(f)) == len(v):
        return None, f
    return v, None


def parse_slowlog_block(message: str) -> tuple[dict, dict] | None:
    """One multiline slow-log block → (kv_str, kv_num), or None when
    the script cancels (null message / fewer than 3 lines)."""
    if message is None:
        return None
    lines = _LINE_RE.findall(message)
    if len(lines) < 3:
        return None
    kv_str: dict[str, str] = {}
    kv_num: dict[str, float] = {}
    query = ""
    for line in lines:
        if not line.startswith("#"):
            query += line  # NO separator — the script's `query + line`
            continue
        for m in _SLOW_KV_RE.finditer(line):
            k, v = m.group(1), m.group(2)
            s, f = _slow_value(k, v)
            if s is not None:
                kv_str[k] = s
                kv_num.pop(k, None)
            else:
                kv_num[k] = f
                kv_str.pop(k, None)
    kv_str["Query"] = query
    return kv_str, kv_num


def slowlog_parse(df: DataFrame, message_col: str = "message") -> DataFrame:
    """Parse TiDB slow-log blocks (already multiline-merged on
    ``# Time:``). Replaces ``message_col`` with two typed maps —
    ``kv_str`` (string-valued keys incl. ``Query`` and ``Time``) and
    ``kv_num`` (JS-number-valued keys) — plus ``ts`` parsed from
    ``Time`` (RFC3339Nano). Cancelled blocks are dropped, like the
    script's ``event.Cancel()``.

    One Arrow-batched ``mapInPandas`` (narrow, partition-preserving):
    the JS shortest-round-trip number rendering that decides
    string-vs-number cannot be expressed with built-in expressions.
    """
    passthrough = [c for c in df.columns if c != message_col]
    schema = df.select(*passthrough).schema.simpleString()[7:-1]
    out_schema = (
        f"{schema}, kv_str map<string,string>, kv_num map<string,double>"
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                parsed = parse_slowlog_block(pdf[message_col].iloc[i])
                if parsed is None:
                    continue
                rec = {c: pdf[c].iloc[i] for c in passthrough}
                rec["kv_str"], rec["kv_num"] = parsed
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=[*passthrough, "kv_str", "kv_num"])

    out = df.mapInPandas(run, schema=out_schema)
    return out.withColumn("ts", F.to_timestamp(out["kv_str"]["Time"]))
