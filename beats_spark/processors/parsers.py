"""String → structured parsers (reference: ``libbeat/processors/{dissect,
decode_csv_fields,decode_xml,extract_array}``, ``actions/decode_json_fields``).
"""

from __future__ import annotations

import csv as _csv
import io as _io
import json as _json
import xml.etree.ElementTree as _ET
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from beats_spark.dissect import dissect as _dissect_df
from beats_spark.processors.base import MASK_PREFIX, Proc, Project, register, scoped


@register("dissect")
class Dissect(Proc):
    """The dissect processor (see :mod:`beats_spark.dissect`).
    Ref: libbeat/processors/dissect/processor.go:63-142, config.go:35-49.
    All config knobs are honored (trim_values/trim_chars per trim.go,
    ignore_failure, overwrite_keys); an unknown knob raises via the
    keyword-only signature rather than being silently dropped."""

    def __init__(self, tokenizer: str, field: str = "message",
                 target_prefix: str = "dissect", ignore_failure: bool = False,
                 overwrite_keys: bool = True, trim_values: str = "none",
                 trim_chars: str = " "):
        self.kwargs = dict(
            tokenizer=tokenizer, field=field, target_prefix=target_prefix,
            ignore_failure=ignore_failure, overwrite_keys=overwrite_keys,
            trim_values=trim_values, trim_chars=trim_chars,
        )

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        return _dissect_df(df, active=active, **self.kwargs)


def _json_is_structured(s: str) -> bool:
    """decode_json_fields.go:254-259."""
    s = s.strip()
    return len(s) > 1 and (
        (s[0] == "[" and s[-1] == "]") or (s[0] == "{" and s[-1] == "}")
    )


def _json_unmarshal_deep(text: str, max_depth: int, process_array: bool):
    """Recursive decode mirroring ``unmarshal``
    (decode_json_fields.go:176-230): after parsing, string values that
    look structured are re-parsed, ``max_depth`` levels deep; arrays are
    only descended into when ``process_array``. Raises on invalid JSON
    at the top level only (nested failures keep the raw string)."""
    out = _json.loads(text)
    return _json_deepen(out, max_depth - 1, process_array)


def _json_deepen(v, depth: int, process_array: bool):
    if depth <= 0:
        return v

    def try_one(x):
        if isinstance(x, str) and _json_is_structured(x):
            try:
                parsed = _json.loads(x)
            except ValueError:
                return x
            if isinstance(parsed, list) and not process_array:
                return x  # errProcessingSkipped keeps the raw string
            return _json_deepen(parsed, depth - 1, process_array)
        return x

    if isinstance(v, dict):
        return {k: try_one(x) for k, x in v.items()}
    if isinstance(v, list) and process_array:
        return [try_one(x) for x in v]
    return v


def _json_expand_dotted(m: dict) -> dict:
    """De-dot keys into nested objects, merging maps (``expandFields``,
    common/jsontransform/expand.go:37-76). On a conflict (a prefix held
    by a non-object) the dotted key is kept as-is (our engine keeps the
    row; the reference errors the event)."""
    out: dict = {}
    for k, v in m.items():
        if isinstance(v, dict):
            v = _json_expand_dotted(v)
        parts = k.split(".")
        node = out
        ok = True
        for p in parts[:-1]:
            nxt = node.get(p)
            if nxt is None:
                nxt = node[p] = {}
            elif not isinstance(nxt, dict):
                ok = False
                break
            node = nxt
        if not ok:
            out[k] = v
            continue
        leaf = parts[-1]
        if isinstance(v, dict) and isinstance(node.get(leaf), dict):
            node[leaf] = _json_expand_dotted({**node[leaf], **v})
        else:
            node[leaf] = v
    return out


@register("decode_json_fields")
class DecodeJsonFields(Project):
    """Parse JSON strings inside fields. With a declared ``schema`` the
    result is a typed struct; without one it is ``map<string,string>``
    (flat documents; nested values re-serialized as compact JSON).
    ``max_depth`` / ``expand_keys`` / ``process_array`` follow the
    reference (actions/decode_json_fields.go:50-58,176-230 +
    jsontransform/expand.go) and route through an Arrow-batched pandas
    UDF; the default knobs stay on the pure-JVM ``from_json`` path."""

    def __init__(self, fields: list[str], target: str | None = None,
                 schema: str | T.StructType | None = None,
                 overwrite_keys: bool = False, max_depth: int = 1,
                 expand_keys: bool = False, process_array: bool = False,
                 add_error_key: bool = False, document_id: str | None = None):
        if schema is not None and (max_depth > 1 or expand_keys or process_array):
            raise ValueError(
                "schema is incompatible with max_depth/expand_keys/"
                "process_array (a declared schema fixes the shape)"
            )
        self.fields = fields
        self.target = target
        self.overwrite_keys = overwrite_keys
        self.schema = schema or T.MapType(T.StringType(), T.StringType())
        self.max_depth = max_depth
        self.expand_keys = expand_keys
        self.process_array = process_array
        self.add_error_key = add_error_key
        self.document_id = document_id

    def _deep_udf(self):
        max_depth, expand = self.max_depth, self.expand_keys
        process_array = self.process_array

        @pandas_udf(T.MapType(T.StringType(), T.StringType()))
        def decode_deep(s: pd.Series) -> pd.Series:
            def one(text):
                if text is None:
                    return None
                try:
                    v = _json_unmarshal_deep(text, max_depth, process_array)
                except ValueError:
                    return None
                if not isinstance(v, dict):
                    return None
                if expand:
                    v = _json_expand_dotted(v)
                return {
                    k: x if isinstance(x, str)
                    else _json.dumps(x, separators=(",", ":"))
                    for k, x in v.items()
                }

            return s.map(one)

        return decode_deep

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out: dict[str, Column] = {}
        deep = self.max_depth > 1 or self.expand_keys or self.process_array
        fn = self._deep_udf() if deep else None
        for f in self.fields:
            tgt = self.target if self.target is not None else f
            # overwrite_keys=False keeps a DISTINCT existing target column
            # (decoding in place, tgt == f, is inherently an overwrite —
            # the reference's flag guards merging into existing event
            # keys, jsontransform WriteJSONKeys overwriteKeys)
            if not self.overwrite_keys and tgt != f and tgt in df.columns:
                continue
            valid = F.try_parse_json(F.col(f)).isNotNull()
            if deep:
                parsed = fn(F.col(f))
            else:
                parsed = F.when(valid, F.from_json(F.col(f), self.schema))
            out[tgt] = parsed
            if self.add_error_key:
                out["error_message"] = F.when(
                    F.col(f).isNotNull() & ~valid, F.lit("Error decoding JSON")
                )
            if self.document_id:
                out["meta_id"] = parsed.getItem(self.document_id)
        return out


@register("decode_csv_fields")
class DecodeCsvFields(Project):
    """RFC-4180 CSV line → array<string>. Plain separators compile to a
    JVM split; quoted-field support uses an Arrow-batched csv.reader.
    Ref: decode_csv_fields/decode_csv_fields.go:102."""

    def __init__(self, fields: dict[str, str], separator: str = ",",
                 ignore_missing: bool = False, overwrite_keys: bool = False,
                 fail_on_error: bool = True, quoted: bool = True):
        self.fields = fields
        self.separator = separator
        self.quoted = quoted
        self.ignore_missing = ignore_missing
        self.overwrite_keys = overwrite_keys
        # fail_on_error's revert-the-event semantics have no columnar
        # analogue: malformed CSV yields a null cell either way (the
        # row survives; we never abort), which matches fail_on_error=
        # False. The True mode's "error.message + rollback" is a
        # per-event mutation model — documented, not silently dropped.

    def _targets(self, df: DataFrame):
        for src, dst in self.fields.items():
            if self.ignore_missing and src not in df.columns:
                continue  # decode_csv_fields.go IgnoreMissing
            if not self.overwrite_keys and dst != src and dst in df.columns:
                continue
            yield src, dst

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out: dict[str, Column] = {}
        sep = self.separator
        if not self.quoted:
            import re as _re

            for src, dst in self._targets(df):
                out[dst] = F.split(F.col(src), _re.escape(sep))
            return out

        @pandas_udf(T.ArrayType(T.StringType()))
        def parse_csv(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                try:
                    return next(iter(_csv.reader(_io.StringIO(v), delimiter=sep)), [])
                except _csv.Error:
                    return None

            return s.map(one)

        for src, dst in self._targets(df):
            out[dst] = parse_csv(F.col(src))
        return out


@register("decode_xml")
class DecodeXml(Project):
    """XML → flat map<string,string> of leaf paths (dotted), optionally
    lower-cased keys — Arrow-batched (stdlib ElementTree).
    Ref: decode_xml/decode_xml.go:89."""

    def __init__(self, field: str = "message", target_field: str | None = None,
                 to_lower: bool = True, ignore_missing: bool = False,
                 ignore_failure: bool = False):
        self.field = field
        self.target = target_field or self.field
        self.to_lower = to_lower
        self.ignore_missing = ignore_missing
        # ignore_failure: malformed XML yields null (row kept) in both
        # modes — the columnar model has no event-abort to suppress;
        # documented rather than silently dropped.

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        if self.ignore_missing and self.field not in df.columns:
            return {}  # decode_xml.go IgnoreMissing
        to_lower = self.to_lower

        @pandas_udf(T.MapType(T.StringType(), T.StringType()))
        def parse_xml(s: pd.Series) -> pd.Series:
            def walk(el, prefix, out):
                tag = el.tag.lower() if to_lower else el.tag
                path = f"{prefix}.{tag}" if prefix else tag
                kids = list(el)
                for k, v in el.attrib.items():
                    out[f"{path}.{k.lower() if to_lower else k}"] = v
                if kids:
                    for kid in kids:
                        walk(kid, path, out)
                elif el.text is not None and el.text.strip():
                    out[path] = el.text.strip()

            def one(v):
                if v is None:
                    return None
                try:
                    root = _ET.fromstring(v)
                except _ET.ParseError:
                    return None
                out: dict[str, str] = {}
                walk(root, "", out)
                return out

            return s.map(one)

        return {self.target: parse_xml(F.col(self.field))}


@register("extract_array")
class ExtractArray(Project):
    """Map array elements to named fields (ref: extract_array/extract_array.go:115).
    fail_on_error: an out-of-range index yields null in both modes
    (getItem is total); the reference's event-rollback has no columnar
    analogue — documented, not silently dropped."""

    def __init__(self, field: str, mappings: dict[str, int],
                 fail_on_error: bool = True, omit_empty: bool = False):
        self.field = field
        self.mappings = mappings
        self.omit_empty = omit_empty

    def assigns(self, df: DataFrame) -> dict[str, Column]:
        out = {}
        for name, idx in self.mappings.items():
            col = F.col(self.field).getItem(idx)
            if self.omit_empty:
                col = F.when(col != "", col)
            out[name] = col
        return out


@register("script")
class Script(Proc):
    """The UDF escape hatch. The reference embeds JavaScript
    (script/processor.go:38-52); our engine takes a Python callable —
    either a ``DataFrame -> DataFrame`` transform (``lang="dataframe"``)
    or a pandas batch function ``pd.DataFrame -> pd.DataFrame`` applied
    via mapInPandas (``lang="pandas"``, Arrow-batched, never per-row).

    ``lang="javascript"`` takes the reference's OWN config shape (a
    ``function process(event) {...}`` source STRING) and auto-translates
    the declarative subset into native processors via
    :mod:`beats_spark.processors.script_translate` — the script then
    runs as column expressions with zero Python in the hot path.
    Outside-subset scripts raise ``ScriptTranslationError`` at build
    time (loud refusal; port those to ``lang="pandas"``). A guarded
    ``dataframe``/``pandas`` transform is opaque: it runs on the active
    rows, and the rest are unioned back unchanged. Inside a multi-step
    scope (an ``if/then/else`` branch, say) the scope's pinned guard
    columns must come through the transform: a pandas script gets them
    put back, a dataframe script that drops them is refused."""

    def __init__(self, source: Callable | str, lang: str = "dataframe",
                 schema: T.StructType | str | None = None):
        self.source = source
        self.lang = lang
        self.schema = schema
        if lang == "javascript":
            from beats_spark.processors.script_translate import (
                translate_script,
            )

            self._translated = translate_script(source)

    def apply(self, df: DataFrame, active: Column | None) -> DataFrame:
        if self.lang == "javascript":
            from beats_spark.pipeline import build_pipeline

            return scoped(df, active, self, build_pipeline(self._translated))
        if active is None:
            return self._run(df, [])
        masks = [c for c in df.columns if c.startswith(MASK_PREFIX)]
        out = self._run(df.filter(active), masks)
        lost = [m for m in masks if m not in out.columns]
        if lost:
            raise ValueError(
                f"script: a guarded dataframe transform must keep the guard columns {lost}")
        return out.unionByName(df.filter(~active), allowMissingColumns=True)

    def _run(self, df: DataFrame, masks: list[str]) -> DataFrame:
        if self.lang == "dataframe":
            return self.source(df)
        if self.lang == "pandas":
            fn = self.source
            schema = self.schema or df.schema
            if masks:
                if isinstance(schema, str):
                    schema = T.StructType.fromDDL(schema)
                schema = T.StructType(schema.fields + [
                    T.StructField(m, T.BooleanType()) for m in masks
                    if m not in schema.fieldNames()])

            def runner(batches):
                for pdf in batches:
                    out = fn(pdf)
                    # every row here is active, and an active row reads
                    # each enclosing scope's pinned guard the same way
                    # (true in `then`, false in `else`): one value each
                    for m in masks:
                        if m not in out.columns:
                            out[m] = bool(pdf[m].iloc[0]) if len(pdf) else False
                    yield out

            return df.mapInPandas(runner, schema=schema)
        raise ValueError(f"unknown script lang {self.lang!r}")
