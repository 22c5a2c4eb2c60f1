"""ES ingest-pipeline compiler (`beats_spark/ingest.py`).

Reference behavior: elasticsearch ingest node processors as installed by
filebeat modules (`filebeat/fileset/pipelines.go`; pipeline definitions
under `filebeat/module/*/*/ingest/pipeline.yml`). Semantics checked here:
per-document failure threading, on_failure recovery, ignore_failure /
ignore_missing, painless-lite `if` conditions, and the grok/dissect/
convert/set/rename/urldecode/kv/csv processor kernels.
"""
from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from beats_spark.ingest import (
    IngestCompileError,
    compile_ingest_pipeline,
    painless_condition,
)
from tests.conftest import error_records


def _run(spark, cfg, rows, schema, **kw):
    df = spark.createDataFrame(rows, schema)
    out = compile_ingest_pipeline(cfg, **kw)(df)
    return {r["message"]: r.asDict() for r in out.collect()}, out


def test_grok_on_failure_recovers_document(spark):
    cfg = {
        "processors": [
            {"grok": {
                "field": "message",
                "patterns": ["%{WORD:verb} %{NUMBER:code:int}"],
                "on_failure": [
                    {"set": {"field": "event.outcome", "value": "fail"}}],
            }},
            {"set": {"field": "seen", "value": "yes"}},
        ],
    }
    got, out = _run(spark, cfg, [("GET 200",), ("nope!",)],
                    "message string")
    ok, bad = got["GET 200"], got["nope!"]
    assert ok["verb"] == "GET" and ok["code"] == 200
    assert ok["event.outcome"] is None
    # on_failure ran on the failing row only, and the doc then CONTINUED
    assert bad["event.outcome"] == "fail"
    assert bad["seen"] == "yes" and ok["seen"] == "yes"
    assert bad["error.message"] is None  # handled => recovered
    assert "_ingest_failed" not in out.columns


def test_nested_on_failure_position_zero_no_column_clash(spark):
    # regression: an on_failure sub-chain re-enters the apply step at
    # chain position 0; the scratch flag column must not be shadowed
    cfg = {
        "processors": [
            {"convert": {
                "field": "n", "type": "long",
                "on_failure": [
                    {"set": {"field": "bad", "value": "y"}},
                    {"set": {"field": "n", "value": "-1"}},
                ],
            }},
            {"set": {"field": "done", "value": "y"}},
        ],
    }
    df = spark.createDataFrame([("a", "7"), ("b", "oops")],
                               "message string, n string")
    out = {r["message"]: r.asDict()
           for r in compile_ingest_pipeline(cfg)(df).collect()}
    assert out["a"]["n"] == 7 and out["a"]["bad"] is None
    assert out["b"]["bad"] == "y" and out["b"]["done"] == "y"


def test_unhandled_failure_surfaces_error_message_and_skips_rest(spark):
    cfg = {
        "processors": [
            {"fail": {"message": "boom", "if": "ctx.message == 'x'"}},
            {"set": {"field": "after", "value": "ran"}},
        ],
    }
    got, _ = _run(spark, cfg, [("x",), ("y",)], "message string")
    assert got["x"]["error.message"] == "boom"
    assert got["x"]["after"] is None     # failed doc skips later processors
    assert got["y"]["after"] == "ran"


def test_keep_failed_false_drops_failed_docs(spark):
    cfg = {"processors": [
        {"fail": {"message": "boom", "if": "ctx.message == 'x'"}}]}
    df = spark.createDataFrame([("x",), ("y",)], "message string")
    out = compile_ingest_pipeline(cfg, keep_failed=False)(df)
    assert [r["message"] for r in out.collect()] == ["y"]
    assert "error.message" not in out.columns


def test_painless_lite_conditions(spark):
    df = spark.createDataFrame(
        [("GET", 200, "a b"), ("POST", None, "")],
        "m string, code int, s string")
    cases = {
        "ctx.m == 'GET'": [True, False],
        "ctx?.code != null && ctx.code >= 200": [True, False],
        "ctx.s.isEmpty()": [False, True],
        "ctx.s.contains('b') || ctx.m.startsWith('PO')": [True, True],
        "!(ctx.m.endsWith('T'))": [False, False],
        "ctx.m.length() > 3": [False, True],
    }
    for src, want in cases.items():
        got = [bool(r[0]) for r in df.select(
            F.coalesce(painless_condition(src, df), F.lit(False))).collect()]
        assert got == want, src
    # Painless regex operators: =~ find-anywhere, ==~ whole-string
    regex_cases = {
        "ctx.m =~ /E/": [True, False],
        "ctx.m ==~ /GET/": [True, False],
        "ctx.m ==~ /G/": [False, False],     # full anchor: no substring
        "ctx.m ==~ /^P0?OST$/": [False, True],
    }
    for src, want in regex_cases.items():
        got = [bool(r[0]) for r in df.select(
            F.coalesce(painless_condition(src, df), F.lit(False))).collect()]
        assert got == want, src
    with pytest.raises(IngestCompileError):
        painless_condition("ctx.m =~ 'notaregex'", df)  # needs /literal/


def test_module_shaped_pipeline_kv_csv_date_split(spark):
    cfg = {
        "processors": [
            {"kv": {"field": "message", "field_split": " ",
                    "value_split": "=", "target_field": "kv"}},
            {"csv": {"field": "row",
                     "target_fields": ["user.name", "source.ip"]}},
            {"date": {"field": "ts", "target_field": "@timestamp",
                      "formats": ["yyyy-MM-dd HH:mm:ss"]}},
            {"split": {"field": "tags_raw", "separator": ","}},
            {"append": {"field": "tags_raw", "value": ["extra"]}},
            {"remove": {"field": "row"}},
        ],
    }
    df = spark.createDataFrame(
        [("a=1 b=2", 'bob,"10.0.0.1"', "2026-01-02 03:04:05", "t1,t2")],
        "message string, row string, ts string, tags_raw string")
    r = compile_ingest_pipeline(cfg)(df).collect()[0].asDict()
    assert r["kv"] == {"a": "1", "b": "2"}
    assert r["user.name"] == "bob" and r["source.ip"] == "10.0.0.1"
    assert str(r["@timestamp"]).startswith("2026-01-02 03:04:05")
    assert r["tags_raw"] == ["t1", "t2", "extra"]
    assert r["row"] is None  # remove = null-out (documented: guarded drop)


def test_kv_duplicate_key_keeps_a_bracketed_plain_value(spark):
    """Two kv passes into one target append a key found in both into a
    list. A first value that starts with '[' but is not a JSON list is
    a plain value: both values survive (ES appendFieldValue)."""
    cfg = {"processors": [
        {"kv": {"field": "message", "field_split": " ",
                "value_split": "=", "target_field": "kv"}},
        {"kv": {"field": "more", "field_split": " ",
                "value_split": "=", "target_field": "kv"}},
    ]}
    got, _ = _run(spark, cfg, [("a=[x b=1", "a=y"), ("a=z", "a=y")],
                  "message string, more string")
    assert json.loads(got["a=[x b=1"]["kv"]["a"]) == ["[x", "y"]
    assert got["a=[x b=1"]["kv"]["b"] == "1"
    assert json.loads(got["a=z"]["kv"]["a"]) == ["z", "y"]


def test_csv_short_row_leaves_existing_targets_unset(spark):
    """ES CsvParser stops at the last value: targets past it keep the
    value they had (a typed one under the masked-write type rules)."""
    cfg = {"processors": [
        {"csv": {"field": "message", "target_fields": ["a", "b", "c", "n"]}}]}
    got, _ = _run(spark, cfg, [("1,2", "old_b", "old_c", 7),
                               ("w,x,y,8", "old_b", "old_c", 7)],
                  "message string, b string, c string, n bigint")
    assert (got["1,2"]["a"], got["1,2"]["b"], got["1,2"]["c"]) == ("1", "2", "old_c")
    assert got["1,2"]["n"] == "7"
    assert (got["w,x,y,8"]["c"], got["w,x,y,8"]["n"]) == ("y", "8")


def test_script_refuses_without_handler_and_runs_with_one(spark):
    cfg = {"processors": [
        {"script": {"source": "ctx.x = 1", "tag": "t1"}}]}
    df = spark.createDataFrame([("m",)], "message string")
    with pytest.raises(IngestCompileError, match="Painless"):
        compile_ingest_pipeline(cfg)(df)
    out = compile_ingest_pipeline(
        cfg, script_handlers={
            "t1": lambda df, act: df.withColumn(
                "x", F.when(act, F.lit(1)))})(df)
    assert out.collect()[0]["x"] == 1


def test_grok_is_search_not_anchored(spark):
    # ES ingest grok is joni matcher.search: a pattern matching a
    # SUBSTRING of the field matches the document (no implicit ^...$)
    cfg = {"processors": [
        {"grok": {"field": "message",
                  "patterns": ["%{WORD:verb} %{NUMBER:code:int}"]}}]}
    got, _ = _run(spark, cfg,
                  [("prefix GET 200 trailing junk",), ("no-match-here",)],
                  "message string")
    ok, bad = got["prefix GET 200 trailing junk"], got["no-match-here"]
    # leftmost occurrence of WORD-then-NUMBER is "GET 200" ("prefix" is
    # not followed by a number); trailing junk doesn't prevent the match
    assert ok["verb"] == "GET" and ok["code"] == 200
    assert ok["error.message"] is None
    assert bad["error.message"] is not None


def test_on_failure_subchain_failure_keeps_inner_diagnostic(spark):
    # a processor inside on_failure that itself fails unhandled must
    # leave the doc failed WITH its message, not error.message=null
    cfg = {"processors": [
        {"convert": {
            "field": "n", "type": "long",
            "on_failure": [{"fail": {"message": "inner boom"}}],
        }},
    ]}
    df = spark.createDataFrame([("a", "7"), ("b", "oops")],
                               "message string, n string")
    out = {r["message"]: r.asDict()
           for r in compile_ingest_pipeline(cfg)(df).collect()}
    assert out["a"]["n"] == 7 and out["a"]["error.message"] is None
    assert out["b"]["error.message"] == "inner boom"


def test_foreach_honors_if_condition(spark):
    cfg = {"processors": [
        {"foreach": {
            "field": "tags",
            "processor": {"uppercase": {"field": "_ingest._value"}},
            "if": "ctx.m == 'a'",
        }},
    ]}
    df = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", ["x", "y"])],
        "m string, tags array<string>")
    out = {r["m"]: r.asDict()
           for r in compile_ingest_pipeline(cfg)(df).collect()}
    assert out["a"]["tags"] == ["X", "Y"]
    assert out["b"]["tags"] == ["x", "y"]  # if=false: untouched


def test_foreach_ignore_failure_and_on_failure(spark):
    # missing field + ignore_failure → doc continues untouched
    cfg = {"processors": [
        {"foreach": {
            "field": "nope",
            "processor": {"trim": {"field": "_ingest._value"}},
            "ignore_failure": True,
        }},
        {"set": {"field": "after", "value": "ran"}},
    ]}
    got, _ = _run(spark, cfg, [("m",)], "message string")
    assert got["m"]["after"] == "ran"
    assert got["m"]["error.message"] is None


def test_mustache_missing_field_renders_empty_string(spark):
    # ES mustache: '{{missing}}' → '' (never nulls the whole template)
    cfg = {"processors": [
        {"set": {"field": "out", "value": "x-{{missing}}-{{m}}"}}]}
    got, _ = _run(spark, cfg, [("hi", "k")], "m string, message string")
    assert got["k"]["out"] == "x--hi"


def test_rename_fails_when_target_exists(spark):
    cfg = {"processors": [
        {"rename": {"field": "a", "target_field": "b"}}]}
    df = spark.createDataFrame(
        [("r1", "v1", None), ("r2", "v2", "occupied")],
        "message string, a string, b string")
    out = {r["message"]: r.asDict()
           for r in compile_ingest_pipeline(cfg)(df).collect()}
    assert out["r1"]["b"] == "v1" and out["r1"]["a"] is None
    assert out["r2"]["b"] == "occupied" and out["r2"]["a"] == "v2"
    assert "already exists" in out["r2"]["error.message"]


def test_rename_never_moves_onto_an_occupied_uncastable_target(spark):
    # the string target cannot hold a bigint column's type: the merged
    # column nulls "abc", but the row must still read as occupied, so
    # under ignore_failure the source stays where it is
    cfg = {"processors": [
        {"rename": {"field": "a", "target_field": "b", "ignore_failure": True}}]}
    got, _ = _run(spark, cfg, [("r1", 5, "abc"), ("r2", 7, None)],
                  "message string, a bigint, b string")
    assert got["r1"]["a"] == 5 and got["r1"]["b"] is None
    assert got["r2"]["b"] == 7 and got["r2"]["a"] is None
    assert got["r1"]["error.message"] is None


def test_dot_expander_object_rename_honors_if(spark):
    cfg = {"processors": [
        {"dot_expander": {"field": "node.id", "path": "es.audit"}},
        {"dot_expander": {"field": "node.name", "path": "es.audit"}},
        # the condition reads a member the rename moves: it must be read
        # once, before the first member moves
        {"rename": {"field": "es.audit.node", "target_field": "es.node",
                    "if": "ctx.es?.audit?.node?.id == 'i1'"}},
    ]}
    got, _ = _run(spark, cfg, [("go", "i1", "n1"), ("stay", "i2", "n2")],
                  "message string, `es.audit.node.id` string, "
                  "`es.audit.node.name` string")
    go, stay = got["go"], got["stay"]
    assert (go["es.node.id"], go["es.node.name"]) == ("i1", "n1")
    assert (go["es.audit.node.id"], go["es.audit.node.name"]) == (None, None)
    assert (stay["es.node.id"], stay["es.node.name"]) == (None, None)
    assert (stay["es.audit.node.id"], stay["es.audit.node.name"]) == ("i2", "n2")


def _object_rename(**opts):
    return {"processors": [
        {"dot_expander": {"field": "node.id", "path": "es.audit"}},
        {"dot_expander": {"field": "node.name", "path": "es.audit"}},
        {"rename": {"field": "es.audit.node", "target_field": "es.node",
                    **opts}},
    ]}


_OBJ_ROWS = [("taken", "i1", "n1", "old_id", "old_name"),
             ("half", "i2", "n2", None, "old_name"),
             ("free", "i3", "n3", None, None)]
_OBJ_SCHEMA = ("message string, `es.audit.node.id` string, "
               "`es.audit.node.name` string, `es.node.id` string, "
               "`es.node.name` string")


def _node(row, at):
    return row[f"{at}.id"], row[f"{at}.name"]


def test_dot_expander_object_rename_fails_as_one_processor(spark):
    # two member targets taken: on_failure runs ONCE for the object, and
    # no member moves (one occupied member target is enough to fail)
    cfg = _object_rename(on_failure=[
        {"append": {"field": "tags", "value": "rename_failed"}}])
    got, _ = _run(spark, cfg, _OBJ_ROWS, _OBJ_SCHEMA)
    assert got["taken"]["tags"] == ["rename_failed"]
    assert got["half"]["tags"] == ["rename_failed"]
    assert got["free"]["tags"] is None
    assert _node(got["taken"], "es.audit.node") == ("i1", "n1")
    assert _node(got["half"], "es.audit.node") == ("i2", "n2")
    assert all(r["error.message"] is None for r in got.values())
    assert _node(got["taken"], "es.node") == ("old_id", "old_name")
    assert _node(got["half"], "es.node") == (None, "old_name")
    assert _node(got["free"], "es.node") == ("i3", "n3")
    assert _node(got["free"], "es.audit.node") == (None, None)


def test_dot_expander_object_rename_ignore_failure_moves_nothing(spark):
    got, _ = _run(spark, _object_rename(ignore_failure=True),
                  _OBJ_ROWS, _OBJ_SCHEMA)
    assert _node(got["half"], "es.audit.node") == ("i2", "n2")
    assert _node(got["half"], "es.node") == (None, "old_name")
    assert _node(got["free"], "es.node") == ("i3", "n3")
    assert all(r["error.message"] is None for r in got.values())
    got, _ = _run(spark, _object_rename(), _OBJ_ROWS, _OBJ_SCHEMA)
    assert got["half"]["error.message"] == "field [es.node] already exists"
    assert got["free"]["error.message"] is None


@pytest.mark.parametrize("case", ["bigint", "bigint_string", "array", "struct"])
def test_grok_onto_an_existing_typed_column(spark, case):
    """A grok field written onto a column of another type keeps the old
    value where its group took no part in the match, with the types
    merged by Spark's cast rules (no caught analysis error). bigint and
    array<string> give the same output as the earlier coalesce probe;
    that probe cast a string capture onto bigint (failing the job on
    "abc") and dropped a struct's old value on a matched row."""
    typed = "%{WORD:verb} (?:%{NUMBER:n:int}|-)"
    optional = "%{WORD:verb}(?: %{NOTSPACE:n})?"
    fail = "Provided Grok expressions do not match field value"
    pattern, data, schema, want_type, want = {
        "bigint": (typed, [("GET 5", 7), ("PUT -", 8), ("x", 9)], "bigint", "bigint",
                   {"GET 5": ("GET", 5, None), "PUT -": ("PUT", 8, None),
                    "x": (None, 9, fail)}),
        "bigint_string": (optional, [("GET abc", 7), ("PUT", 8), ("!", 9)], "bigint",
                          "string", {"GET abc": ("GET", "abc", None),
                                     "PUT": ("PUT", "8", None), "!": (None, "9", fail)}),
        "array": (optional, [("GET a", ["x"]), ("PUT", ["y", "z"]), ("!", None)],
                  "array<string>", "array<string>",
                  {"GET a": ("GET", ["a"], None), "PUT": ("PUT", ["y", "z"], None),
                   "!": (None, None, fail)}),
        "struct": (optional, [("GET a", (1, "p")), ("PUT", (2, "q")), ("!", (3, "r"))],
                   "struct<a:int,b:string>", "string",
                   {"GET a": ("GET", "a", None), "PUT": ("PUT", "{2, q}", None),
                    "!": (None, "{3, r}", fail)}),
    }[case]
    cfg = {"processors": [{"grok": {"field": "message", "patterns": [pattern]}}]}
    with error_records() as records:
        got, out = _run(spark, cfg, data, f"message string, n {schema}")
    assert records == []
    assert dict(out.dtypes)["n"] == want_type
    assert {m: (r["verb"], r["n"], r["error.message"]) for m, r in got.items()} == want


def test_geoip_honors_its_if(spark):
    geo = spark.createDataFrame([("1.1.1.1", "AU"), ("8.8.8.8", "US")],
                                "ip string, country_iso_code string")
    cfg = {"processors": [{"geoip": {"field": "source.ip", "target_field": "source.geo",
                                     "if": "ctx.kind == 'ext'"}}]}
    got, _ = _run(spark, cfg, [("a", "1.1.1.1", "ext"), ("b", "1.1.1.1", "int"),
                               ("c", "8.8.8.8", "ext"), ("d", "8.8.8.8", "int")],
                  "message string, `source.ip` string, kind string", geoip_table=geo)
    assert {m: r["source.geo.country_iso_code"] for m, r in got.items()} == {
        "a": "AU", "b": None, "c": "US", "d": None}


def test_single_projection_plan_stays_narrow(spark):
    # the whole compiled chain must be projections over one scan:
    # no shuffle, no UDF, nothing outside whole-stage codegen
    cfg = {"processors": [
        {"grok": {"field": "message", "patterns": ["%{WORD:w}"],
                  "ignore_failure": True}},
        {"set": {"field": "t", "value": "v"}},
        {"lowercase": {"field": "w", "ignore_failure": True}},
        {"rename": {"field": "w", "target_field": "word",
                    "ignore_missing": True}},
    ]}
    df = spark.range(4).select(F.lit("Hello x").alias("message"))
    plan = compile_ingest_pipeline(cfg)(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def _literal_comparisons(df) -> list[str]:
    """Every ``EqualTo`` in ``df``'s analyzed plan whose two sides are
    both literals (Spark warns "Constructing trivially true equals
    predicate" when a Column builds one)."""
    import json

    def trees(v):
        if isinstance(v, list) and v and isinstance(v[0], dict) and "num-children" in v[0]:
            yield v
        elif isinstance(v, (list, dict)):
            for x in (v if isinstance(v, list) else v.values()):
                yield from trees(x)

    lit = lambda e: e["class"].endswith(".Literal")  # noqa: E731
    found = []
    for node in json.loads(df._jdf.queryExecution().analyzed().toJSON()):
        for flat in trees(node):
            for i, e in enumerate(flat[:-2]):
                if e["class"].endswith(".EqualTo") and lit(flat[i + 1]) and lit(flat[i + 2]):
                    found.append(f"{flat[i + 1].get('value')!r} == {flat[i + 2].get('value')!r}")
    return found


def test_user_agent_builds_no_literal_comparison(spark):
    """A one-group version pattern gets no second-group branch: the
    compiled expressions compare no literal with a literal, and the
    versions are unchanged (a two-group pattern still takes group 2)."""
    cfg = {"processors": [{"user_agent": {"field": "ua"}}]}
    got, out = _run(spark, cfg, [
        ("ff", "Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0"),
        ("ie", "Mozilla/5.0 (Windows NT 10.0; Trident/7.0; rv:11.0) like Gecko"),
        ("none", None),
    ], "message string, ua string")
    assert _literal_comparisons(out) == []
    assert {m: (r["user_agent.name"], r["user_agent.version"], r["user_agent.os.name"])
            for m, r in got.items()} == {
        "ff": ("Firefox", "120.0", "Linux"), "ie": ("IE", "11.0", "Windows"),
        "none": (None, None, None)}
