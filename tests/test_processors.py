"""Processor-library tests (mirrors the reference's table-driven
actions/*_test.go style)."""

from __future__ import annotations

import base64
import gzip

import pytest

from beats_spark.pipeline import build_pipeline, normalize
from beats_spark.processors import build_processor
from tests.conftest import rows


@pytest.fixture(scope="module")
def df(spark):
    data = [
        (1, "error", "db timeout on login", 9.5, "2026-01-02T03:04:05Z", "src0"),
        (2, "info", "user login ok", 0.5, "2026-01-02T04:00:00Z", "src1"),
        (3, "error", "disk full", 99.0, "2026-01-03T00:00:00Z", "src0"),
    ]
    return spark.createDataFrame(
        data, "id int, level string, msg string, value double, raw_ts string, source string"
    )


def run(df, *entries):
    return build_pipeline(list(entries))(df)


def test_add_fields_under_root(df):
    out = run(df, {"add_fields": {"fields": {"env": "prod"}, "fields_under_root": True}})
    assert out.select("env").distinct().collect()[0][0] == "prod"


def test_add_fields_attrs_target(df):
    out = run(df, {"add_fields": {"fields": {"team": "sre"}}})
    assert out.select("attrs").first()[0] == {"fields.team": "sre"}


def test_add_labels_flatten(df):
    out = run(df, {"add_labels": {"labels": {"app": {"name": "api", "ids": [1, 2]}}}})
    attrs = out.select("attrs").first()[0]
    assert attrs == {"labels.app.name": "api", "labels.app.ids.0": "1", "labels.app.ids.1": "2"}


def test_add_tags_dedup(df):
    out = run(df, {"add_tags": {"tags": ["x", "y"]}}, {"add_tags": {"tags": ["y", "z"]}})
    assert out.select("tags").first()[0] == ["x", "y", "z"]


def test_copy_rename_replace(df):
    out = run(
        df,
        {"copy_fields": {"fields": [{"from": "level", "to": "severity"}]}},
        {"rename": {"fields": [{"from": "raw_ts", "to": "ts_str"}]}},
        {"replace": {"fields": [{"field": "msg", "pattern": "login", "replacement": "LOGIN"}]}},
    )
    r = {x["id"]: x for x in out.collect()}
    assert r[1]["severity"] == "error" and r[1]["ts_str"].startswith("2026")
    assert r[1]["msg"] == "db timeout on LOGIN"


def test_rename_conflict_raises(df):
    with pytest.raises(ValueError, match="already exists"):
        run(df, {"rename": {"fields": [{"from": "msg", "to": "level"}]}})


def test_truncate_extract_urldecode_base64(spark):
    df = spark.createDataFrame(
        [("héllo wörld", "a-b-c", "x%20y%2Fz", base64.b64encode(b"secret").decode())],
        "text string, path string, url string, b64 string",
    )
    out = run(
        df,
        {"truncate_fields": {"fields": ["text"], "max_bytes": 7}},
        {"extract_field": {"field": "path", "separator": "-", "index": 1, "target": "mid"}},
        {"urldecode": {"fields": [{"from": "url", "to": "url_dec"}]}},
        {"decode_base64_field": {"field": {"from": "b64", "to": "plain"}}},
    )
    r = out.first()
    assert r["text"] == "héllo "  # 7 bytes cuts mid-ö → rune-safe trim
    assert r["mid"] == "b" and r["url_dec"] == "x y/z" and r["plain"] == "secret"


def test_gzip_and_mime(spark):
    gz = base64.b64encode(gzip.compress(b"hello gz")).decode()
    df = spark.createDataFrame(
        [(gz, '{"a":1}'), (gz, "%PDF-1.7 x")], "payload string, blob string"
    )
    out = run(
        df,
        {"decompress_gzip_field": {"field": {"from": "payload", "to": "plain"}}},
        {"detect_mime_type": {"field": "blob", "target": "mime"}},
    )
    got = rows(out, "plain", "mime")
    assert got == [("hello gz", "application/json"), ("hello gz", "application/pdf")]


def test_convert(df):
    out = run(
        df,
        {"convert": {"fields": [{"from": "value", "to": "value_int", "type": "integer"}]}},
    )
    assert dict(out.dtypes)["value_int"] == "int"
    assert rows(out, "value_int") == [(0,), (9,), (99,)]


def test_convert_ip_validation(spark):
    df = spark.createDataFrame([("10.1.2.3",), ("999",)], "addr string")
    out = run(df, {"convert": {"fields": [{"from": "addr", "to": "ip", "type": "ip"}]}})
    assert rows(out, "ip") == [("10.1.2.3",), (None,)]


def test_timestamp_layouts(df):
    out = run(
        df,
        {"timestamp": {"field": "raw_ts", "layouts": ["ISO8601"], "target": "ts"}},
    )
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.filter("ts is null").count() == 0


def test_timestamp_unix(spark):
    df = spark.createDataFrame([("1700000000",)], "epoch string")
    out = run(df, {"timestamp": {"field": "epoch", "layouts": ["UNIX"], "target": "ts"}})
    assert str(out.first()["ts"]).startswith("2023-11-14")


def test_add_id_fingerprint(df):
    out = run(
        df,
        {"add_id": {"key_field": "id"}},
        {"fingerprint": {"fields": ["level", "msg"], "method": "sha256"}},
        {"fingerprint": {"fields": ["level"], "method": "xxhash", "target_field": "xx"}},
    )
    r = out.filter("id = 1").first()
    import hashlib

    assert r["meta_id"] == hashlib.sha256(b"1").hexdigest()
    assert r["fingerprint"] == hashlib.sha256(b"error|db timeout on login").hexdigest()
    assert len(r["xx"]) > 0


def test_drop_event_when(df):
    out = run(df, {"drop_event": {"when": {"equals": {"level": "error"}}}})
    assert rows(out, "id") == [(2,)]


def test_drop_and_include_fields(df):
    out = run(df, {"drop_fields": {"fields": ["raw_ts", "value"]}})
    assert "raw_ts" not in out.columns and "value" not in out.columns
    out2 = run(df, {"include_fields": {"fields": ["level", "msg"]}})
    assert set(out2.columns) == {"source", "level", "msg"}  # source always kept


def test_guarded_projection_keeps_unmatched_rows(df):
    out = run(
        df,
        {
            "add_fields": {
                "fields": {"flag": "hot"},
                "fields_under_root": True,
                "when": {"equals": {"level": "error"}},
            }
        },
    )
    assert rows(out, "id", "flag") == [(1, "hot"), (2, None), (3, "hot")]


def test_if_then_else(df):
    out = run(
        df,
        {
            "if": {"equals": {"level": "error"}},
            "then": [{"add_fields": {"fields": {"route": "alert"}, "fields_under_root": True}}],
            "else": [{"add_fields": {"fields": {"route": "archive"}, "fields_under_root": True}}],
        },
    )
    assert rows(out, "id", "route") == [(1, "alert"), (2, "archive"), (3, "alert")]


def test_rate_limit(spark):
    data = [(i, "k%d" % (i % 2), "2026-01-01T00:00:%02dZ" % i) for i in range(20)]
    df = spark.createDataFrame(data, "id int, key string, raw string").selectExpr(
        "id", "key", "cast(raw as timestamp) ts", "id as offset"
    )
    out = run(df, {"rate_limit": {"limit": "3/m", "fields": ["key"]}})
    assert out.count() == 6  # 3 per key per minute
    assert rows(out, "id") == [(0,), (1,), (2,), (3,), (4,), (5,)]  # earliest kept


def test_network_direction(spark):
    df = spark.createDataFrame(
        [("10.0.0.1", "10.0.0.2"), ("10.0.0.1", "8.8.8.8"), ("8.8.8.8", "10.0.0.1"),
         ("1.1.1.1", "8.8.8.8")],
        "src string, dst string",
    )
    out = run(df, {"add_network_direction": {"source": "src", "destination": "dst"}})
    assert [r["direction"] for r in out.collect()] == [
        "internal", "outbound", "inbound", "external",
    ]


def test_registered_domain(spark):
    df = spark.createDataFrame([("a.b.example.co.uk",), ("www.example.com",)], "host string")
    out = run(df, {"registered_domain": {"field": "host"}})
    assert rows(out, "registered_domain") == [("example.co.uk",), ("example.com",)]


def test_community_id_symmetry(spark):
    df = spark.createDataFrame(
        [("10.0.0.1", 1234, "10.0.0.2", 80, "tcp"), ("10.0.0.2", 80, "10.0.0.1", 1234, "tcp")],
        "source_ip string, source_port int, destination_ip string, destination_port int, transport string",
    )
    out = run(df, {"community_id": {}})
    vals = [r["network_community_id"] for r in out.collect()]
    assert vals[0] == vals[1] and vals[0].startswith("1:")


def test_decode_json_fields(spark):
    df = spark.createDataFrame([('{"k":"69","n":"2"}',), ("notjson",)], "props string")
    out = run(df, {"decode_json_fields": {"fields": ["props"], "target": "parsed",
                                          "add_error_key": True}})
    got = {r["props"]: (r["parsed"], r["error_message"]) for r in out.collect()}
    assert got['{"k":"69","n":"2"}'] == ({"k": "69", "n": "2"}, None)
    assert got["notjson"][0] is None and got["notjson"][1] == "Error decoding JSON"


def test_decode_csv_fields(spark):
    df = spark.createDataFrame([('a,"b,c",d',)], "line string")
    out = run(df, {"decode_csv_fields": {"fields": {"line": "cols"}}})
    assert out.first()["cols"] == ["a", "b,c", "d"]


def test_decode_xml(spark):
    df = spark.createDataFrame([("<Root><A attr='1'>x</A><B><C>y</C></B></Root>",)], "doc string")
    out = run(df, {"decode_xml": {"field": "doc", "target_field": "xml"}})
    assert out.first()["xml"] == {"root.a.attr": "1", "root.a": "x", "root.b.c": "y"}


def test_extract_array(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "arr array<string>")
    out = run(df, {"extract_array": {"field": "arr", "mappings": {"first": 0, "last": 2}}})
    assert (out.first()["first"], out.first()["last"]) == ("a", "c")


def test_script_dataframe_and_pandas(spark):
    df = spark.createDataFrame([(1,), (2,)], "v int")
    out = run(df, {"script": {"source": lambda d: d.withColumn("v2", d.v * 2)}})
    assert rows(out, "v2") == [(2,), (4,)]

    def pandas_fn(pdf):
        pdf["v"] = pdf["v"] + 10
        return pdf

    out2 = run(df, {"script": {"source": pandas_fn, "lang": "pandas"}})
    assert rows(out2, "v") == [(11,), (12,)]


def test_lookup_enrichment_broadcast(spark, df):
    dim = spark.createDataFrame(
        [("src0", "host-a", "prod"), ("src1", "host-b", "staging")],
        "source string, host_name string, env string",
    )
    out = run(df, {"add_host_metadata": {"dim": dim, "prefix": ""}})
    assert rows(out, "id", "host_name", "env") == [
        (1, "host-a", "prod"), (2, "host-b", "staging"), (3, "host-a", "prod"),
    ]
    # the physical plan must be a broadcast join, not a shuffle join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lookup_dim_dedups_in_one_task(spark):
    """The broadcast dim dedups in one task, with no Exchange under the
    BroadcastExchange. A dim with duplicate keys over several
    partitions still gives one row per event."""
    from pyspark.sql import functions as F

    from beats_spark.processors.enrich import LookupJoin

    def source(c, n):
        return F.concat(F.lit("s"), (F.col(c) % n).cast("string")).alias("source")

    dim = spark.range(0, 40, numPartitions=4).select(source("id", 4), F.lit("x").alias("env"))
    ev = spark.range(0, 8, numPartitions=2).select("id", source("id", 5))
    out = LookupJoin(dim, on="source", prefix="host_")(ev)
    assert rows(out, "id", "host_env") == [(i, None if i == 4 else "x") for i in range(8)]
    plan = out._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-|*()0123456789"))

    at = next(i for i, line in enumerate(plan) if "BroadcastExchange" in line)
    below = []
    for line in plan[at + 1:]:
        if depth(line) <= depth(plan[at]):
            break
        below.append(line)
    assert below and not any("Exchange" in line for line in below), plan


def test_add_nomad_metadata_logs_path_matcher(spark):
    alloc = "389d1bc4-fae4-6956-9f66-6df59a0f11f0"
    dim = spark.createDataFrame(
        [(alloc, "web", "frontend")],
        "allocation_id string, job string, task string",
    )
    df = spark.createDataFrame(
        [
            # matcher path: logs_path prefix + UUID → enriched
            (1, f"/var/lib/nomad/alloc/{alloc}/alloc/logs/app.stderr.0"),
            # outside logs_path → MetadataIndex "" → unenriched
            (2, f"/other/alloc/{alloc}/alloc/logs/app.stdout.0"),
            # under logs_path but no UUID → unenriched
            (3, "/var/lib/nomad/alloc/not-a-uuid/logs/app.stdout.0"),
        ],
        "id int, source string",
    )
    out = run(df, {"add_nomad_metadata": {"dim": dim}})
    assert rows(out, "id", "nomad_job", "nomad_task") == [
        (1, "web", "frontend"), (2, None, None), (3, None, None),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "_nomad_alloc_id" not in out.columns


def test_dns_append_and_tag(spark):
    df = spark.createDataFrame([("8.8.8.8",), ("9.9.9.9",)], "ip string")
    dim = spark.createDataFrame([("8.8.8.8", "dns.google")], "ip string, hostname string")
    out = run(df, {"dns": {"dim": dim, "field": "ip", "target": "host",
                           "tag_on_failure": ["_dns_fail"]}})
    got = {r["ip"]: (r["host"], r["tags"]) for r in out.collect()}
    assert got["8.8.8.8"] == ("dns.google", [])
    assert got["9.9.9.9"] == (None, ["_dns_fail"])


def test_normalize_drops_empty(spark):
    df = spark.createDataFrame([("x",), ("",), (None,)], "message string")
    assert normalize(df).count() == 1


def test_add_formatted_index(spark):
    df = spark.createDataFrame(
        [("src0", "2026-01-02T03:04:05Z")], "source string, raw string"
    ).selectExpr("source", "cast(raw as timestamp) ts")
    out = run(df, {"add_formatted_index": {"index": "logs-%{[source]}-%{+yyyy.MM.dd}"}})
    assert out.first()["sink"] == "logs-src0-2026.01.02"


# -- decode_json_fields: max_depth / process_array / expand_keys
#    (mirrors actions/decode_json_fields_test.go:130-177,297-368,403-421) ------


def _djf(spark, msg, **conf):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([(msg,)], "msg string")
    p = build_processor({"decode_json_fields": {"fields": ["msg"], **conf}})
    return p(df).collect()[0]["msg"]


DEPTH_MSG = '{"log":"{\\"level\\":\\"info\\"}","stream":"stderr","count":3}'


def test_decode_json_depth_one(spark):
    got = _djf(spark, DEPTH_MSG, max_depth=1)
    assert got == {"log": '{"level":"info"}', "stream": "stderr", "count": "3"}


def test_decode_json_depth_two(spark):
    got = _djf(spark, DEPTH_MSG, max_depth=2)
    assert got == {"log": '{"level":"info"}', "stream": "stderr", "count": "3"} or \
        got["log"] == '{"level":"info"}'
    # depth two decodes the nested string into an object
    assert _djf(spark, DEPTH_MSG, max_depth=2)["log"] == '{"level":"info"}'


def test_decode_json_depth_two_decodes_nested(spark):
    import json

    got = _djf(spark, DEPTH_MSG, max_depth=2)
    assert json.loads(got["log"]) == {"level": "info"}


def test_decode_json_array_disabled_keeps_raw(spark):
    got = _djf(spark, '{"arrayOfMap": "[{\\"a\\":\\"b\\"}]"}',
               max_depth=10, process_array=False)
    assert got == {"arrayOfMap": '[{"a":"b"}]'}


def test_decode_json_array_enabled_decodes(spark):
    import json

    got = _djf(spark, '{"arrayOfMap": "[{\\"a\\":\\"b\\"}]"}',
               max_depth=10, process_array=True)
    assert json.loads(got["arrayOfMap"]) == [{"a": "b"}]


def test_decode_json_invalid_nested_array_kept(spark):
    got = _djf(spark, '{"arrayOfMap": "[]]"}', max_depth=10, process_array=True)
    assert got == {"arrayOfMap": "[]]"}


def test_decode_json_expand_keys(spark):
    import json

    got = _djf(spark, '{"a.b": {"c": "c"}, "a.b.d": "d"}', expand_keys=True)
    assert set(got) == {"a"}
    assert json.loads(got["a"]) == {"b": {"c": "c", "d": "d"}}


def test_decode_json_expand_keys_conflict_keeps_dotted(spark):
    got = _djf(spark, '{"a.b": "c", "a.b.c": "d"}', expand_keys=True)
    # conflict: a.b is a scalar, a.b.c wants a.b to be an object — the
    # engine keeps rows (no event errors); the conflicting key stays dotted
    assert got["a.b.c"] == "d" or ("a" in got and "a.b.c" in got)


def test_decode_json_schema_incompatible_with_deep_knobs(spark):
    from beats_spark.processors.parsers import DecodeJsonFields

    import pytest as _pytest
    with _pytest.raises(ValueError, match="schema"):
        DecodeJsonFields(fields=["msg"], schema="k int", expand_keys=True)


# -- knob sweep: every accepted config option does something ------------------


def test_fingerprint_encodings(spark):
    import base64
    import hashlib

    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([("x",)], "f string")
    digest = hashlib.sha256(b"x").digest()
    for enc, want in [
        ("hex", digest.hex()),
        ("base64", base64.b64encode(digest).decode()),
        ("base32", base64.b32encode(digest).decode()),
    ]:
        p = build_processor({"fingerprint": {"fields": ["f"], "method": "sha256",
                                             "target_field": "fp", "encoding": enc}})
        assert p(df).collect()[0]["fp"] == want, enc
    import pytest as _pytest
    with _pytest.raises(ValueError, match="encoding"):
        build_processor({"fingerprint": {"fields": ["f"], "encoding": "rot13"}})


def test_add_locale_formats(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([(1,)], "id int")
    off = build_processor({"add_locale": {"timezone": "UTC"}})(df).collect()[0]
    assert off["event_timezone"] == "+00:00"
    abbr = build_processor({"add_locale": {"format": "abbreviation",
                                           "timezone": "UTC"}})(df).collect()[0]
    assert abbr["event_timezone"] == "UTC"


def test_ignore_missing_skips(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([("a b",)], "present string")
    # each processor with ignore_missing=True must be a no-op on a
    # missing source field instead of an analysis error
    for conf in [
        {"truncate_fields": {"fields": ["absent"], "max_characters": 2,
                             "ignore_missing": True}},
        {"urldecode": {"fields": [{"from": "absent"}], "ignore_missing": True}},
        {"decode_base64_field": {"field": {"from": "absent"}, "ignore_missing": True}},
        {"decompress_gzip_field": {"field": {"from": "absent"}, "ignore_missing": True}},
        {"timestamp": {"field": "absent", "layouts": ["ISO8601"],
                       "ignore_missing": True}},
        {"decode_xml": {"field": "absent", "ignore_missing": True}},
        {"decode_csv_fields": {"fields": {"absent": "cells"}, "ignore_missing": True}},
    ]:
        out = build_processor(conf)(df)
        assert out.columns == ["present"], conf
        assert out.count() == 1


def test_drop_fields_strict_mode(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="missing"):
        build_processor({"drop_fields": {"fields": ["ghost"],
                                         "ignore_missing": False}})(df)
    # default tolerates missing
    assert build_processor({"drop_fields": {"fields": ["ghost"]}})(df).count() == 1


def test_lookup_join_no_overwrite(spark):
    from beats_spark.processors.enrich import LookupJoin

    df = spark.createDataFrame([("s1", "keep-me")], "source string, host_env string")
    dim = spark.createDataFrame([("s1", "prod", "linux")],
                                "source string, env string, os string")
    out = LookupJoin(dim, on="source", prefix="host_", overwrite=False)(df)
    row = out.collect()[0]
    assert row["host_env"] == "keep-me"  # pre-existing field preserved
    assert row["host_os"] == "linux"     # non-conflicting field still joined


def test_decode_csv_no_overwrite_distinct_target(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([("a,b", ["orig"])], "line string, cells array<string>")
    out = build_processor({"decode_csv_fields": {"fields": {"line": "cells"},
                                                 "overwrite_keys": False}})(df)
    assert out.collect()[0]["cells"] == ["orig"]
    out2 = build_processor({"decode_csv_fields": {"fields": {"line": "cells"},
                                                  "overwrite_keys": True}})(df)
    assert out2.collect()[0]["cells"] == ["a", "b"]


# -- syslog RFC-3164 parse (filebeat/input/syslog) ----------------------------


def test_syslog_rfc3164_full_line(spark):
    from beats_spark.processors.syslog import syslog_rfc3164

    df = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed for lonvick",),
         ("<13>Feb  5 17:32:18 host-7 app: simple note",),
         ("Oct 11 22:14:15 nohost prog: no priority line",),
         ("totally not syslog",)],
        "message string",
    )
    out = {r["message"][:6]: r for r in
           syslog_rfc3164(df, assume_year=2003).collect()}
    r = out["<34>Oc"]
    assert r["syslog_priority"] == 34
    assert r["event_severity"] == 2 and r["syslog_severity_label"] == "Critical"
    assert r["syslog_facility"] == 4
    assert r["syslog_facility_label"] == "security/authorization"
    assert r["hostname"] == "mymachine"
    assert r["process_program"] == "su" and r["process_pid"] == 230
    assert r["syslog_message"] == "'su root' failed for lonvick"
    assert str(r["syslog_ts"]) == "2003-10-11 22:14:15"

    r = out["<13>Fe"]  # double-space single-digit day form
    assert str(r["syslog_ts"]) == "2003-02-05 17:32:18"
    assert r["process_pid"] is None and r["process_program"] == "app"

    r = out["Oct 11"]  # priority-less line still parses
    assert r["syslog_priority"] is None and r["hostname"] == "nohost"
    assert r["syslog_message"] == "no priority line"

    r = out["totall"]  # unparseable: raw line kept, fields null
    assert r["syslog_priority"] is None and r["hostname"] is None
    assert r["syslog_message"] == "totally not syslog"


def test_syslog_message_trims_one_line_terminator(spark):
    """One trailing "\\n" or "\\r\\n" is the line terminator, not message
    text; a bare "\\r" and inner newlines stay in the message."""
    from beats_spark.processors.syslog import syslog_rfc3164

    cases = [("", "hi"), ("\n", "hi"), ("\r\n", "hi"), ("\r", "hi\r"),
             ("\nnext\r\n", "hi\nnext")]
    df = spark.createDataFrame(
        [(i, "<13>Oct  7 10:09:00 web1 app[7]: hi" + tail)
         for i, (tail, _) in enumerate(cases)], "i int, message string")
    out = syslog_rfc3164(df).orderBy("i").collect()
    assert all(r["hostname"] == "web1" and r["process_pid"] == 7 for r in out)
    assert [r["syslog_message"] for r in out] == [want for _, want in cases]


def test_syslog_priority_over_191_is_unparseable(spark):
    """The reference's parser validates priority <= 191; <999> is not a
    syslog line — raw message kept, all syslog fields null."""
    from beats_spark.processors.syslog import syslog_rfc3164

    df = spark.createDataFrame(
        [("<999>Oct 11 22:14:15 mymachine su[230]: msg",),
         ("<192>Oct 11 22:14:15 mymachine su[230]: msg",),
         ("<191>Oct 11 22:14:15 mymachine su[230]: msg",)],
        "message string",
    )
    out = {r["message"][:5]: r for r in syslog_rfc3164(df).collect()}
    for bad in ("<999>", "<192>"):
        r = out[bad]
        assert r["syslog_priority"] is None and r["hostname"] is None
        assert r["syslog_facility_label"] is None
        assert r["syslog_message"] == f"{bad}Oct 11 22:14:15 mymachine su[230]: msg"
    r = out["<191>"]
    assert r["syslog_priority"] == 191 and r["hostname"] == "mymachine"
    assert r["syslog_facility"] == 23 and r["event_severity"] == 7


def test_syslog_registry_name(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame(
        [("<165>Aug 24 05:34:00 box local4d: hello",)], "message string")
    out = build_processor({"syslog": {"assume_year": 1987}})(df).collect()[0]
    assert out["syslog_facility_label"] == "local4"
    assert out["event_severity"] == 5


def test_rate_limit_salted_matches_unsalted(spark):
    """salt_buckets>1 (two-phase skew-safe top-k) keeps exactly the
    rows of the single-window form — including on a pathologically hot
    key — and its plan has no single hot window partition."""
    from beats_spark.datagen import generate_events
    from beats_spark.processors.base import build_processor

    ev = generate_events(spark, 20000, hot_fraction=0.9)  # one giant key
    plain = build_processor({"rate_limit": {"limit": "7/m", "fields": ["source"]}})
    salted = build_processor({"rate_limit": {"limit": "7/m", "fields": ["source"],
                                             "salt_buckets": 8}})
    key = lambda r: (r["source"], r["offset"])
    a = sorted(map(key, plain(ev).collect()))
    b = sorted(map(key, salted(ev).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------- grok


def test_grok_apache_common_log(spark):
    from beats_spark.processors.grok import grok

    df = spark.createDataFrame(
        [('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
          '"GET /apache_pb.gif HTTP/1.0" 200 2326',),
         ('h3 - u42 [10/Oct/2024:13:55:36] "POST /p/x HTTP/1.1" 404 -',)],
        "message string",
    )
    out = {r["grok"]["clientip"]: r["grok"].asDict()
           for r in grok(df, "%{COMMONAPACHELOG}").collect()}
    a = out["127.0.0.1"]
    assert a["verb"] == "GET" and a["request"] == "/apache_pb.gif"
    assert a["response"] == 200 and a["bytes"] == 2326  # typed longs
    assert a["timestamp"] == "10/Oct/2000:13:55:36 -0700"
    b = out["h3"]
    assert b["response"] == 404 and b["bytes"] is None  # '-' → null
    assert b["rawrequest"] is None


def test_grok_unanchored_and_failure_flag(spark):
    from beats_spark.processors.grok import PARSE_ERROR_FLAG, grok

    df = spark.createDataFrame(
        [("prefix level=WARN code=17 suffix",), ("no match here",), (None,)],
        "message string",
    )
    out = grok(df, "level=%{LOGLEVEL:lvl} code=%{INT:code:int}").collect()
    by_msg = {r["message"]: r for r in out}
    hit = by_msg["prefix level=WARN code=17 suffix"]
    assert hit["grok"]["lvl"] == "WARN" and hit["grok"]["code"] == 17
    assert hit["log_flags"] is None
    for m in ("no match here", None):
        assert by_msg[m]["grok"] is None
        assert by_msg[m]["log_flags"] == [PARSE_ERROR_FLAG]


def test_grok_anchor_requires_full_match(spark):
    from beats_spark.processors.grok import grok

    df = spark.createDataFrame([("ERROR trailing",), ("ERROR",)], "message string")
    out = {r["message"]: r["grok"] for r in
           grok(df, "%{LOGLEVEL:lvl}", anchor=True).collect()}
    assert out["ERROR"]["lvl"] == "ERROR"
    assert out["ERROR trailing"] is None


def test_grok_dot_stops_at_newline_anchored_or_not(spark):
    """joni never runs a grok pattern in DOTALL: `.` stops at a newline
    whether the match is anchored or a search."""
    from beats_spark.processors.grok import GrokPattern, grok

    expr = "%{LOGLEVEL:lvl} %{GREEDYDATA:rest}"
    df = spark.createDataFrame([("ERROR first\nsecond",)], "message string")
    searched = grok(df, expr).collect()[0]["grok"]
    assert (searched["lvl"], searched["rest"]) == ("ERROR", "first")
    assert grok(df, expr, anchor=True).collect()[0]["grok"] is None
    pat = GrokPattern(expr)
    assert pat.parse("ERROR first\nsecond")["rest"] == "first"
    assert pat.parse("ERROR first\nsecond", anchor=True) is None


def test_grok_nested_semantics_and_custom_definitions(spark):
    from beats_spark.processors.grok import grok

    df = spark.createDataFrame([("job=etl-7 host=db1:5432",)], "message string")
    out = grok(
        df,
        "job=%{JOBNAME:job} host=%{HOSTPORT:endpoint}",
        pattern_definitions={"JOBNAME": r"[a-z]+-[0-9]+"},
        target_prefix="",
    ).collect()[0]
    assert out["job"] == "etl-7"
    assert out["endpoint"] == "db1:5432"


def test_grok_named_group_in_definition_does_not_shift_fields(spark):
    """A user pattern_definition carrying a Java named group
    '(?<x>...)' (common in grok patterns copied from public libraries)
    must be demoted to non-capturing — otherwise it shifts $g group
    numbering and corrupts every extracted field after it. Lookbehind
    '(?<=...)' must survive untouched."""
    from beats_spark.processors.grok import _noncapture, grok

    df = spark.createDataFrame([("job=etl-7 host=db1:5432",)], "message string")
    out = grok(
        df,
        "job=%{JOBNAME:job} host=%{HOSTPORT:endpoint}",
        pattern_definitions={"JOBNAME": r"(?<word>[a-z]+)-(?P<num>[0-9]+)"},
        target_prefix="",
    ).collect()[0]
    assert out["job"] == "etl-7"
    assert out["endpoint"] == "db1:5432"
    assert _noncapture(r"(?<=x)(?<name>a)(b)") == r"(?<=x)(?:a)(?:b)"
    assert _noncapture(r"(?<!x)(?P<n>a)") == r"(?<!x)(?:a)"


def test_grok_named_backreference_rejected_at_compile():
    """A named backreference would dangle once its group is demoted —
    must raise at compile time, not PatternSyntaxException inside
    regexp_extract on the executors. Escaped '\\\\k' (literal backslash
    + k) is NOT a backreference and passes through."""
    import pytest as _pytest

    from beats_spark.processors.grok import _noncapture

    with _pytest.raises(ValueError, match="backreference"):
        _noncapture(r"(?<q>[\"']).*?\k<q>")
    with _pytest.raises(ValueError, match="backreference"):
        _noncapture(r"(?P<q>x)(?P=q)")
    assert _noncapture(r"a\\k<b>") == r"a\\k<b>"  # literal \, then k<b>


def test_grok_duplicate_names_coalesce(spark):
    from beats_spark.processors.grok import grok

    df = spark.createDataFrame(
        [("ip=10.0.0.1",), ("host=web2",)], "message string")
    out = {r["message"]: r["grok"]["addr"] for r in grok(
        df, "(?:ip=%{IPV4:addr}|host=%{HOSTNAME:addr})").collect()}
    assert out["ip=10.0.0.1"] == "10.0.0.1"
    assert out["host=web2"] == "web2"


def test_grok_python_parse_matches_spark(spark):
    from beats_spark.processors.grok import GrokPattern, grok

    lines = [
        "10.1.2.3 GET /a 200",
        "not-an-ip GET /a 200",
        "10.9.9.9 PUT /long/path 503",
    ]
    expr = "%{IPV4:ip} %{WORD:verb} %{NOTSPACE:path} %{NONNEGINT:status:int}"
    pat = GrokPattern(expr)
    df = spark.createDataFrame([(l,) for l in lines], "message string")
    got = {r["message"]: r["grok"] for r in grok(df, expr).collect()}
    for l in lines:
        py = pat.parse(l)
        if py is None:
            assert got[l] is None
        else:
            assert got[l]["ip"] == py["ip"] and got[l]["verb"] == py["verb"]
            assert got[l]["status"] == int(py["status"])


def test_grok_unknown_pattern_and_no_captures_raise(spark):
    from beats_spark.processors.grok import GrokPattern

    with pytest.raises(KeyError):
        GrokPattern("%{NOPE:x}")
    with pytest.raises(ValueError):
        GrokPattern("%{IPV4} only unnamed")


def test_grok_registry_name(spark):
    from beats_spark.processors.base import build_processor

    df = spark.createDataFrame([("u=alice n=3",)], "message string")
    p = build_processor(
        {"grok": {"expr": "u=%{USERNAME:user} n=%{INT:n:int}", "target_prefix": ""}}
    )
    out = p(df).collect()[0]
    assert out["user"] == "alice" and out["n"] == 3


def _asof_fixtures(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    ev = spark.createDataFrame(
        [(1, "h1", t(5)), (2, "h1", t(2)), (3, "h2", t(9)), (4, "h1", t(4)),
         (5, None, t(7)), (6, "h3", t(1))],
        "event_id long, host string, ts timestamp_ntz",
    )
    dim = spark.createDataFrame(
        [("h1", t(1), "v1"), ("h1", t(4), "v2"), ("h2", t(20), "vz"),
         (None, t(0), "bad")],
        "host string, valid_from timestamp_ntz, cfg string",
    )
    # expected: e1 t5→v2; e2 t2→v1; e3 t9→none (h2's only version is
    # later); e4 t4→v2 (>= inclusive: valid_from == ts matches);
    # e5 null key→none (never matches the null-key dim row);
    # e6 h3→none (no versions)
    want = [(1, "v2"), (2, "v1"), (3, None), (4, "v2"), (5, None), (6, None)]
    return ev, dim, want


@pytest.mark.parametrize("mode", ["broadcast", "merge"])
def test_asof_enrich_semantics(spark, mode):
    from beats_spark.processors.enrich import asof_enrich

    ev, dim, want = _asof_fixtures(spark)
    out = asof_enrich(ev, dim, on="host", mode=mode, prefix="host_")
    got = sorted((r["event_id"], r["host_cfg"]) for r in out.collect())
    assert got == want


def test_asof_enrich_broadcast_no_extra_shuffle(spark):
    from beats_spark.processors.enrich import asof_enrich

    ev, dim, _ = _asof_fixtures(spark)
    plan = (
        asof_enrich(ev, dim, on="host", mode="broadcast")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_lookup_processor_in_chain(spark):
    from beats_spark.pipeline import build_pipeline
    from beats_spark.processors.enrich import AsofLookup

    ev, dim, want = _asof_fixtures(spark)
    chain = build_pipeline([AsofLookup(dim, on="host", prefix="host_")])
    got = sorted((r["event_id"], r["host_cfg"]) for r in chain(ev).collect())
    assert got == want
