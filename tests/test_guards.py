"""Guard semantics: ``when:`` and ``if/then/else`` compile to one per-row
mask that every processor honours in place, on one frame.

The parity tests keep the split-and-union semantics as the reference
implementation: the guarded rows go through the unguarded processor,
the rest are unioned back untouched. The mask must produce the same
row set without a ``Union`` in the plan."""

from __future__ import annotations

import ast
import pathlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.pipeline import build_pipeline
from beats_spark.processors import build_processor
from tests.conftest import error_records, rows

ERROR = {"equals": {"level": "error"}}


@pytest.fixture(scope="module")
def events(spark):
    # row 4 has a null level: the condition is null there, which reads
    # as false (the row is outside the guard and takes `else`)
    data = [
        (1, "error", "GET /a", "5", "src0", "8.8.8.8"),
        (2, "info", "PUT /b", "7", "src1", "9.9.9.9"),
        (3, "error", "bad", "x", "src2", "8.8.8.8"),
        (4, None, "GET /c", "13", "src0", "1.1.1.1"),
        (5, "error", "GET /d", "17", "src3", "9.9.9.9"),
    ]
    return spark.createDataFrame(
        data, "id int, level string, msg string, n string, source string, ip string"
    )


def _cases(spark) -> dict[str, dict]:
    def bump(pdf: pd.DataFrame) -> pd.DataFrame:  # local: pickled by value
        pdf["id"] = pdf["id"] + 100
        return pdf

    host_dim = spark.createDataFrame(
        [("src0", "host-a"), ("src1", "host-b"), ("src2", "host-c")],
        "source string, name string",
    )
    dns_dim = spark.createDataFrame([("8.8.8.8", "dns.google")], "ip string, hostname string")
    return {
        "add_fields": {"add_fields": {"fields": {"flag": "hot"}, "fields_under_root": True,
                                      "when": ERROR}},
        "drop_event": {"drop_event": {"when": ERROR}},
        "convert": {"convert": {"fields": [{"from": "n", "type": "integer"}], "when": ERROR}},
        "dissect": {"dissect": {"tokenizer": "%{verb} %{path}", "field": "msg",
                                "target_prefix": "", "when": ERROR}},
        "grok": {"grok": {"expr": "%{WORD:verb} %{NOTSPACE:path}", "field": "msg",
                          "target_prefix": "", "when": ERROR}},
        "lookup_join": {"add_host_metadata": {"dim": host_dim, "when": ERROR}},
        "dns": {"dns": {"dim": dns_dim, "field": "ip", "target": "host",
                        "tag_on_failure": ["_dns_fail"], "when": ERROR}},
        "ingest_pipeline": {"ingest_pipeline": {"definition": {"processors": [
            {"set": {"field": "seen", "value": "yes"}},
            {"uppercase": {"field": "msg"}},
        ]}, "when": ERROR}},
        "pandas_script": {"script": {"source": bump, "lang": "pandas", "when": ERROR}},
        "if_then_else": {
            "if": ERROR,
            "then": [
                {"add_fields": {"fields": {"route": "alert"}, "fields_under_root": True}},
                {"drop_event": {"when": {"equals": {"id": 3}}}},
            ],
            "else": [{"add_fields": {"fields": {"route": "archive"}, "fields_under_root": True}}],
        },
    }


CASES = ["add_fields", "drop_event", "convert", "dissect", "grok", "lookup_join",
         "dns", "ingest_pipeline", "pandas_script", "if_then_else"]


def _split_and_union(df, entry):
    """The old dispatch, kept as the reference: filter each side of the
    condition, run the unguarded processors on the matching side,
    ``unionByName`` the halves back together."""
    if "if" in entry:
        cond = compile_condition(entry["if"], df)
        yes = build_pipeline(entry["then"])(df.filter(cond))
        no = build_pipeline(entry["else"])(df.filter(~cond | cond.isNull()))
        return yes.unionByName(no, allowMissingColumns=True)
    (name, cfg), = entry.items()
    bare = {name: {k: v for k, v in cfg.items() if k != "when"}}
    cond = compile_condition(cfg["when"], df)
    yes = build_processor(bare)(df.filter(cond))
    return yes.unionByName(df.filter(~cond | cond.isNull()), allowMissingColumns=True)


def _row_set(df):
    cols = sorted(df.columns)
    got = [tuple(None if r[c] is None else str(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(got, key=lambda t: [(v is None, v or "") for v in t])


@pytest.mark.parametrize("case", CASES)
def test_guard_matches_split_and_union_reference(spark, events, case):
    # the reference cannot union `convert`'s int column with a
    # non-numeric string, so its unguarded rows must hold numbers
    df = events.filter(F.col("id") != 3) if case == "convert" else events
    entry = _cases(spark)[case]
    assert _row_set(build_pipeline([entry])(df)) == _row_set(_split_and_union(df, entry))


@pytest.mark.parametrize("case", CASES)
def test_guarded_plans_have_no_union(spark, events, case):
    out = build_pipeline([_cases(spark)[case]])(events)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # an opaque script transform is the one input the union still serves
    assert ("Union" in plan) == (case == "pandas_script")


def test_if_then_else_adds_no_regex_evaluations(spark):
    """A branch on a parsed field must not compute the parse twice
    (the split-and-union plan had one copy of the regex per half)."""
    from beats_spark.datagen import TOKENIZER, generate_events
    from beats_spark.dissect import compile_tokenizer

    ev = generate_events(spark, 200)
    rx = compile_tokenizer(TOKENIZER).regex
    dissect = {"dissect": {"tokenizer": TOKENIZER, "target_prefix": ""}}
    branch = {
        "if": ERROR,
        "then": [{"add_fields": {"fields": {"route": "alert"}, "fields_under_root": True}}],
        "else": [{"add_fields": {"fields": {"route": "archive"}, "fields_under_root": True}}],
    }

    def regex_evals(*entries) -> int:
        out = build_pipeline(list(entries))(ev)
        return out._jdf.queryExecution().executedPlan().toString().count(rx)

    alone = regex_evals(dissect)
    assert alone >= 1
    assert regex_evals(dissect, branch) == alone


def _parse_cases():
    """``case: (message, parser entry, drop condition on a parsed field,
    the regex texts the parse evaluates)``; the indirect dissect is
    counted by its Arrow Python nodes instead."""
    from beats_spark.dissect import compile_tokenizer
    from beats_spark.processors.cef import _EXT_TOKEN_RX, _HEADER_RX
    from beats_spark.processors.grok import GrokPattern
    from beats_spark.processors.syslog import _RFC3164

    tok = "%{verb} %{path} %{level}"
    grok_expr = "%{WORD:verb} %{NOTSPACE:path} %{LOGLEVEL:level}"
    ladder = ["%{WORD:verb} %{NOTSPACE:path} %{LOGLEVEL:level}",
              "%{WORD:verb} %{LOGLEVEL:level}"]
    debug = {"equals": {"level": "debug"}}
    return {
        "dissect": ("GET /a info", {"dissect": {"tokenizer": tok, "target_prefix": ""}},
                    debug, [compile_tokenizer(tok).regex]),
        "dissect_indirect": ("level info", {"dissect": {"tokenizer": "%{*k} %{&k}"}},
                             {"equals": {"dissect.level": "debug"}}, None),
        "grok": ("GET /a info", {"grok": {"expr": grok_expr, "target_prefix": ""}},
                 debug, [GrokPattern(grok_expr).anchored(False)]),
        "syslog": ("<13>Oct  7 10:09:00 web1 app[7]: hi", {"syslog": {}},
                   {"equals": {"hostname": "web9"}}, [_RFC3164]),
        "decode_cef": ("CEF:0|v|p|1|sig|name|5|src=10.0.0.1 act=blocked",
                       {"decode_cef": {}}, {"equals": {"cef.name": "other"}},
                       [_HEADER_RX, _EXT_TOKEN_RX]),
        # the ingest compiler's own drop, inside the same definition
        "ingest_grok_ladder": ("GET /a info", {"ingest_pipeline": {"definition": {
            "processors": [
                {"grok": {"field": "message", "patterns": ladder}},
                {"drop": {"if": "ctx.level == 'debug'"}},
            ]}}}, None, [GrokPattern(p, require_captures=False).anchored(False)
                         for p in ladder]),
    }


@pytest.mark.parametrize("case", list(_parse_cases()))
def test_filter_on_parsed_field_runs_the_parse_once(spark, tmp_path, case):
    """A filter on a parsed field stays above the parse (Catalyst would
    otherwise push it below with the regex substituted in, once per
    reference), while a filter on an unparsed column still reaches the
    parquet scan."""
    line, parser, cond, patterns = _parse_cases()[case]
    path = str(tmp_path / "in")
    spark.createDataFrame([(line, i, "src0") for i in range(4)],
                          "message string, offset long, source string") \
        .write.parquet(path)
    entries = [parser] + ([{"drop_event": {"when": cond}}] if cond else [])
    out = build_pipeline(entries)(spark.read.parquet(path)).filter(F.col("offset") > 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 2
    lines = [ln for ln in plan.splitlines() if "FileScan" not in ln]
    if patterns is None:
        assert sum(ln.count("ArrowEvalPython") for ln in lines) == 1
    for rx in patterns or []:
        assert sum(ln.count(rx) for ln in lines) == 1, rx
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "GreaterThan(offset,1)" in scan.split("PushedFilters: ")[1]


MARK = "\x02"  # the capture kernel's match marker, as the first input byte


def _mark_cases():
    """``case: (entries, a matching line or None, a parsed column and its
    value on that line, the per-row failure column)``. Both lines start
    with the kernel's MARK; a syslog line cannot both start with it
    and match."""
    tok = "%{verb} %{path}"
    grok_expr = "%{WORD:verb} %{NOTSPACE:path}"

    def flagged(flag):
        return F.coalesce(F.array_contains(F.col("log_flags"), flag), F.lit(False))

    ingest_failed = F.col("`error.message`").isNotNull()
    dissect = {"dissect": {"tokenizer": tok, "target_prefix": ""}}
    return {
        "dissect": ([dissect], MARK + "GET /a", "path", "/a",
                    flagged("dissect_parsing_error")),
        "grok": ([{"grok": {"expr": grok_expr, "target_prefix": ""}}],
                 MARK + "GET /a", "path", "/a", flagged("_grok_parse_failure")),
        "syslog": ([{"syslog": {}}], None, "hostname", None,
                   F.col("hostname").isNull()
                   & (F.col("syslog_message") == F.col("message"))),
        "decode_cef": ([{"decode_cef": {}}], MARK + "CEF:0|v|p|1|sig|name|5|src=10.0.0.1",
                       "cef.name", "name", flagged("_cef_parse_failure")),
        "ingest_grok": ([{"ingest_pipeline": {"definition": {"processors": [
            {"grok": {"field": "message", "patterns": [grok_expr]}}]}}}],
            MARK + "GET /a", "path", "/a", ingest_failed),
        "ingest_dissect": ([{"ingest_pipeline": {"definition": {"processors": [
            {"dissect": {"field": "message", "pattern": tok}}]}}}],
            MARK + "GET /a", "path", "/a", ingest_failed),
        # the flagship's shape: a drop on a parsed field above the parse
        "dissect_drop_event": ([dissect, {"drop_event": {"when": {
            "equals": {"path": "/drop"}}}}], MARK + "GET /a", "path", "/a",
            flagged("dissect_parsing_error")),
    }


@pytest.mark.parametrize("case", ["dissect", "grok", "syslog", "decode_cef", "ingest_grok",
                                  "ingest_dissect", "dissect_drop_event"])
def test_line_starting_with_the_capture_mark(spark, case):
    """An unmatched line that starts with the kernel's MARK is kept and
    reads as unmatched (it used to read as matched, and every group
    read past the end of its capture array failed the job); a matching
    one parses."""
    entries, hit, col, want, failed = _mark_cases()[case]
    miss = MARK + "oops"
    lines = [miss] + ([hit] if hit else [])
    df = spark.createDataFrame([(ln, i) for i, ln in enumerate(lines)],
                               "message string, offset long")
    out = build_pipeline(entries)(df)
    got = {r[0]: (r[1], r[2]) for r in out.select(
        "message", F.col(col), failed).collect()}
    assert got[miss] == (None, True)
    if hit:
        assert got[hit] == (want, False)
    assert len(got) == len(lines)


def test_capture_format_is_spelled_in_one_module():
    """The capture kernel's MARK/SEP control characters occur in one
    module's string constants: every parser reads its captures through
    ``dissect.captures``."""
    root = pathlib.Path(__file__).resolve().parents[1] / "beats_spark"
    spelled = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and ("\x01" in node.value or "\x02" in node.value)
    }
    assert spelled == {"dissect.py"}


# -- regressions of the duplicated guard code -------------------------------


@pytest.mark.parametrize("knobs", [
    {"salt_buckets": 1}, {"salt_buckets": 4}, {"algorithm": "token_bucket"},
])
def test_guarded_rate_limit_ranks_only_guarded_rows(spark, knobs):
    data = [(i, "info" if i < 5 else "error", f"2026-01-01T00:00:{i:02d}Z") for i in range(8)]
    df = spark.createDataFrame(data, "id int, level string, raw string").selectExpr(
        "id", "level", "cast(raw as timestamp) ts", "id as offset"
    )
    limit = {"rate_limit": {"limit": "3/m", **knobs, "when": ERROR}}
    out = build_pipeline([limit])(df)
    assert rows(out, "id") == [(i,) for i in range(8)]
    # the limit still binds on the guarded rows
    df2 = df.union(df.selectExpr("id + 8 as id", "'error' as level", "ts", "offset + 8"))
    out2 = build_pipeline([limit])(df2)
    assert out2.filter(F.col("level") == "error").count() == 3
    assert out2.filter(F.col("level") == "info").count() == 5


def test_lookup_join_overwrites_existing_column_in_place(spark):
    from beats_spark.processors.enrich import LookupJoin

    df = spark.createDataFrame(
        [("s1", "error", 1, "old1"), ("s2", "error", 2, "old2"), ("s1", "info", 3, "old3")],
        "source string, level string, n int, host_env string",
    )
    dim = spark.createDataFrame([("s1", "prod")], "source string, env string")
    out = LookupJoin(dim, on="source", prefix="host_")(df)
    assert out.columns == ["source", "level", "n", "host_env"]
    # the dim value where the key matches, the old value where it doesn't
    assert rows(out, "n", "host_env") == [(1, "prod"), (2, "old2"), (3, "prod")]
    guarded = LookupJoin(dim, on="source", prefix="host_")
    guarded.when = ERROR
    out = guarded(df)
    assert out.columns == ["source", "level", "n", "host_env"]
    assert rows(out, "n", "host_env") == [(1, "prod"), (2, "old2"), (3, "old3")]


@pytest.fixture(scope="module")
def numbers(spark):
    return spark.createDataFrame(
        [(1, "1", "2", 10), (2, "3", "x", 30)], "id int, a string, b string, a_int int"
    )


CONVERT_AB = [{"from": "a", "to": "a_int", "type": "integer"},
              {"from": "b", "to": "b_int", "type": "integer"}]


def test_convert_fail_on_error_reverts_the_row(numbers):
    out = build_pipeline([{"convert": {"fields": CONVERT_AB}}])(numbers)
    # row 2's `b` fails: every target keeps its value from before
    assert rows(out, "id", "a_int", "b_int") == [(1, 1, 2), (2, 30, None)]


def test_convert_without_fail_on_error_nulls_only_the_failed_target(numbers):
    out = build_pipeline([{"convert": {"fields": CONVERT_AB, "fail_on_error": False}}])(numbers)
    assert rows(out, "id", "a_int", "b_int") == [(1, 1, 2), (2, 3, None)]


def test_if_then_else_branches_may_leave_different_types(spark):
    df = spark.createDataFrame([("error", "5"), ("info", "x"), ("info", "7")],
                               "level string, n string")
    out = build_pipeline([{
        "if": ERROR,
        "then": [{"convert": {"fields": [{"from": "n", "type": "integer"}]}}],
        "else": [{"add_tags": {"tags": ["other"]}}],
    }])(df)
    assert rows(out, "level", "n") == [("error", 5), ("info", 7), ("info", None)]


def test_if_then_else_reads_the_condition_before_either_branch(spark):
    df = spark.createDataFrame([(1, "error"), (2, "info")], "id int, level string")
    out = build_pipeline([{
        "if": ERROR,
        "then": [{"add_fields": {"fields": {"level": "info"}, "fields_under_root": True}}],
        "else": [{"add_tags": {"tags": ["else"]}}],
    }])(df)
    assert rows(out, "id", "level", "tags") == [(1, "info", None), (2, "info", ["else"])]


# -- no caught analysis errors while compiling a guard ----------------------


def test_guarded_convert_skips_excluded_rows_without_error_logs(spark):
    df = spark.createDataFrame([("error", "5"), ("info", "x"), ("info", "7")],
                               "level string, n string")
    with error_records() as records:
        out = build_pipeline([{"convert": {"fields": [{"from": "n", "type": "integer"}],
                                           "when": ERROR}}])(df)
    assert records == []
    assert dict(out.dtypes)["n"] == "int"
    # an excluded row keeps its value where the new type can hold it
    assert rows(out, "level", "n") == [("error", 5), ("info", 7), ("info", None)]


def test_guarded_ingest_split_compiles_without_error_logs(spark):
    from beats_spark.ingest import compile_ingest_pipeline

    df = spark.createDataFrame([("error", "a,b"), ("info", "c,d")], "level string, msg string")
    with error_records() as records:
        out = compile_ingest_pipeline({"processors": [
            {"split": {"field": "msg", "separator": ",", "if": "ctx.level == 'error'"}},
        ]})(df)
    assert records == []
    # a string cannot be held by the array column: the excluded row is null
    assert rows(out, "level", "msg") == [("error", ["a", "b"]), ("info", None)]


# -- a guard keeps the excluded rows' values whole --------------------------


@pytest.fixture(scope="module")
def wide(spark):
    return spark.createDataFrame(
        [("error", 2**40, 3.7), ("info", 2**40 + 1, 4.5)],
        "level string, big bigint, real double",
    )


@pytest.mark.parametrize("entry, want", [
    ({"add_fields": {"fields": {"big": 0, "real": 1}, "fields_under_root": True, "when": ERROR}},
     [("error", 0, 1.0), ("info", 2**40 + 1, 4.5)]),
    ({"if": ERROR,
      "then": [{"add_fields": {"fields": {"big": 0}, "fields_under_root": True}}],
      "else": [{"add_fields": {"fields": {"real": 1}, "fields_under_root": True}}]},
     [("error", 0, 3.7), ("info", 2**40 + 1, 1.0)]),
])
def test_guarded_int_literal_widens_instead_of_narrowing(wide, entry, want):
    out = build_pipeline([entry])(wide)
    assert dict(out.dtypes) == {"level": "string", "big": "bigint", "real": "double"}
    assert rows(out, "level", "big", "real") == want


def test_guarded_rename_reads_its_guard_once(spark):
    df = spark.createDataFrame([(1, "a1", "c1"), (2, None, "c2")], "id int, a string, c string")
    out = build_pipeline([{"rename": {
        "fields": [{"from": "a", "to": "b"}, {"from": "c", "to": "d"}],
        "when": {"has_fields": ["a"]},
    }}])(df)
    # row 1 moves both pairs, though the first move empties `a`
    assert sorted(out.columns) == ["a", "b", "c", "d", "id"]
    assert rows(out, "id", "a", "b", "c", "d") == [
        (1, None, "a1", None, "c1"), (2, None, None, "c2", None)]


# -- an opaque script inside a scope keeps the scope's guard ----------------


def test_schema_changing_pandas_script_in_a_branch(spark, events):
    def slim(pdf: pd.DataFrame) -> pd.DataFrame:  # local: pickled by value
        return pd.DataFrame({"id": pdf["id"] + 100, "level": pdf["level"]})

    out = build_pipeline([{
        "if": ERROR,
        "then": [
            {"script": {"source": slim, "lang": "pandas", "schema": "id int, level string"}},
            {"add_fields": {"fields": {"route": "alert"}, "fields_under_root": True}},
        ],
        "else": [{"drop_event": {"when": {"equals": {"id": 2}}}}],
    }])(events)
    assert not [c for c in out.columns if c.startswith("_mask_")]
    # the script's rows still take the rest of `then`, and `else` drops
    # only its own row
    assert rows(out, "id", "route", "msg") == [
        (101, "alert", None), (103, "alert", None), (105, "alert", None), (4, None, "GET /c")]


def test_dataframe_script_dropping_a_scope_guard_is_refused(events):
    with pytest.raises(ValueError, match="guard columns"):
        build_pipeline([{
            "if": ERROR,
            "then": [{"script": {"source": lambda df: df.select("id", "level")}}],
        }])(events)


# -- as-of lookup under a guard ---------------------------------------------


@pytest.mark.parametrize("mode", ["broadcast", "merge"])
def test_guarded_asof_lookup(spark, mode):
    df = spark.createDataFrame(
        [(1, "error", "h1", 10, "old1"), (2, "info", "h1", 10, "old2"),
         (3, "error", None, 10, "old3")],
        "id int, level string, host string, ts int, host_os string",
    )
    dim = spark.createDataFrame([("h1", 5, "linux"), ("h1", 20, "bsd")],
                                "host string, valid_from int, os string")
    out = build_pipeline([{"asof_lookup": {"dim": dim, "on": "host", "prefix": "host_",
                                           "mode": mode, "when": ERROR}}])(df)
    assert out.columns == df.columns
    # the guarded row takes its version; the others keep their value
    # (a null key matches nothing)
    assert rows(out, "id", "host_os") == [(1, "linux"), (2, "old2"), (3, None)]


def test_guarded_indirect_dissect(spark, events):
    # `&` keys take the map (pandas UDF) path
    out = build_pipeline([{"dissect": {"tokenizer": "%{?k} %{&k}", "field": "msg",
                                       "target_prefix": "kv", "when": ERROR}}])(events)
    got = {r["id"]: r["kv"] for r in out.collect()}
    assert got[1] == {"GET": "/a"} and got[2] is None and got[4] is None
    assert rows(out.filter(F.col("id") == 2), "log_flags") == [(None,)]


def test_module_script_handlers_write_only_active_rows(spark):
    from beats_spark.module_scripts import (
        _auditd_args_count, _bool_map_fields, _nginx_pick_source_address)

    df = spark.createDataFrame(
        [(1, True, "Yes", ["10.0.0.1", "8.8.8.8"], ["a", "b"], "7"),
         (2, False, "No", ["9.9.9.9"], ["c"], "5"),
         (3, None, "maybe", None, None, None)],
        "id int, act boolean, `s.flag` string, `nginx.access.remote_ip_list` array<string>,"
        " `process.args` array<string>, `process.args_count` string",
    )
    act = F.col("act")
    out = _bool_map_fields("s", ["flag"], {"Yes": True, "No": False})(df, act)
    out = _nginx_pick_source_address(out, act)
    out = _auditd_args_count(out, act)
    assert rows(out, "id", "`s.flag`", "`source.address`", "`process.args_count`") == [
        (1, True, "8.8.8.8", "2"), (2, False, None, "5"), (3, None, None, None)]
