"""TiDB module family vs the reference module's own golden fixtures
(filebeat/module/tidb/<fileset>/test/*.log + *-expected.json): the
unified-log-format parser (tidb/tikv/pd/tiflash/ticdc) and the slow-log
parser, each driven through reader → multiline → parse exactly like the
module's input.yml pipeline (beats_spark/modules.py)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.module_scripts import REFERENCE_MODULE_ROOT
from beats_spark.modules import (
    SLOWLOG_MULTILINE_PATTERN,
    UNIFIED_MULTILINE_PATTERN,
    slowlog_parse,
    unified_log_parse,
)
from beats_spark.multiline import multiline_pattern
from beats_spark.readers import read_log_lines

_MODULE_DIR = os.path.join(REFERENCE_MODULE_ROOT, "tidb")

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(_MODULE_DIR),
    reason="reference module fixtures not available",
)

_UNIFIED_CASES = [
    ("tidb", "baremetal.log"),
    ("tikv", "filestream.log"),
    ("pd", "filestream.log"),
    ("tiflash", "baremetal.log"),
    ("ticdc", "baremetal.log"),
]


def _expected(fileset: str, log_name: str) -> list[dict]:
    path = os.path.join(_MODULE_DIR, fileset, "test",
                        log_name + "-expected.json")
    with open(path) as f:
        return sorted(json.load(f), key=lambda e: e["log.offset"])


def _events(spark, fileset: str, log_name: str, pattern: str):
    path = os.path.join(_MODULE_DIR, fileset, "test", log_name)
    lines = read_log_lines(spark, path)
    return multiline_pattern(lines, pattern, negate=True, match="after",
                             partition_cols=("source",))


@needs_fixtures
@pytest.mark.parametrize("fileset,log_name", _UNIFIED_CASES)
def test_unified_golden(spark, fileset, log_name):
    exp = _expected(fileset, log_name)
    out = unified_log_parse(
        _events(spark, fileset, log_name, UNIFIED_MULTILINE_PATTERN),
        fileset=fileset,
    )
    rows = sorted(
        out.select(
            "offset",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
            "log_level", "log_logger", "message", "body", "kv",
        ).collect(),
        key=lambda r: r["offset"],
    )
    assert len(rows) == len(exp)
    prefix = f"tidb.{fileset}."
    for r, e in zip(rows, exp):
        ctx = f"{fileset} offset {e['log.offset']}"
        assert r["offset"] == e["log.offset"], ctx
        assert r["at"] == e["@timestamp"], ctx
        assert r["log_level"] == e.get("log.level"), ctx
        assert r["log_logger"] == e.get("log.logger"), ctx
        assert r["message"] == e.get("message"), ctx
        assert r["body"] == e.get("tidb.body"), ctx
        exp_kv = {k[len(prefix):]: v for k, v in e.items()
                  if k.startswith(prefix)}
        assert (r["kv"] or {}) == exp_kv, ctx


@needs_fixtures
def test_slowlog_golden(spark):
    exp = _expected("slowlog", "baremetal.log")
    out = slowlog_parse(
        _events(spark, "slowlog", "baremetal.log",
                SLOWLOG_MULTILINE_PATTERN)
    )
    rows = sorted(
        out.select(
            "offset",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
            "kv_str", "kv_num",
        ).collect(),
        key=lambda r: r["offset"],
    )
    assert len(rows) == len(exp)
    for r, e in zip(rows, exp):
        ctx = f"slowlog offset {e['log.offset']}"
        assert r["offset"] == e["log.offset"], ctx
        assert r["at"] == e["@timestamp"], ctx
        exp_str = {k[len("tidb.slowlog."):]: v for k, v in e.items()
                   if k.startswith("tidb.slowlog.")
                   and isinstance(v, str)}
        exp_num = {k[len("tidb.slowlog."):]: float(v)
                   for k, v in e.items()
                   if k.startswith("tidb.slowlog.")
                   and isinstance(v, (int, float))}
        assert r["kv_str"] == exp_str, ctx
        assert r["kv_num"] == exp_num, ctx


def test_unified_parser_edge_cases(spark):
    """Script semantics the goldens cannot reach, pinned by hand:
    single-char kvString (JS substring bound swap), duplicate keys
    (last wins), dissect failure passthrough."""
    rows = [
        # duplicate key: last Put wins
        ('[2024/01/01 00:00:00.000 +00:00] [INFO] [a.go:1] ["m"] '
         "[k=1] [k=2]",),
        # no kvs at all: body consumed, empty map
        ('[2024/01/01 00:00:00.000 +00:00] [WARN] [b.go:2] ["just msg"]',),
        # not even a bracketed message: script returns, body survives
        ("[2024/01/01 00:00:00.000 +00:00] [ERROR] [c.go:3] plain tail",),
        # un-dissectable line: everything null, message passes through
        ("not a unified log line",),
    ]
    df = spark.createDataFrame(rows, "message string")
    out = {
        (r["log_logger"] or r["message"]): r
        for r in unified_log_parse(df).collect()
    }
    assert out["a.go:1"]["kv"] == {"k": "2"}
    assert out["a.go:1"]["body"] is None
    assert out["b.go:2"]["kv"] == {}
    assert out["b.go:2"]["message"] == "just msg"
    assert out["b.go:2"]["body"] is None
    assert out["c.go:3"]["kv"] is None
    assert out["c.go:3"]["body"] == "plain tail"
    assert out["c.go:3"]["message"] is None
    passthrough = out["not a unified log line"]
    assert passthrough["log_level"] is None and passthrough["kv"] is None


def test_slowlog_js_number_semantics():
    """The String(parseFloat(v)).length === v.length test, including
    its quirks: trailing-zero decimals and sub-1e-6 values stay
    strings; an 18-digit integer becomes a precision-lossy double
    (which is why Txn_start_ts/Conn_ID are forced to strings)."""
    from beats_spark.modules import _slow_value

    assert _slow_value("Query_time", "4.031495087") == (None, 4.031495087)
    assert _slow_value("Parse_time", "0") == (None, 0.0)
    assert _slow_value("Mem_max", "426") == (None, 426.0)
    assert _slow_value("x", "1.0") == ("1.0", None)          # String→"1"
    assert _slow_value("x", "0.0000001") == ("0.0000001", None)  # "1e-7"
    assert _slow_value("x", "-0") == ("-0", None)            # String→"0"
    assert _slow_value("Succ", "true") == ("true", None)
    assert _slow_value("Digest", "61f4cce2a7c6") == ("61f4cce2a7c6", None)
    # 18-digit int: JS rounds to 426606780115058700, SAME length → number
    assert _slow_value("x", "426606780115058697") == (
        None, 426606780115058700.0)
    # ...the reason the reference special-cases these keys:
    assert _slow_value("Txn_start_ts", "426606780115058697") == (
        "426606780115058697", None)
    assert _slow_value("Conn_ID", "7") == ("7", None)


def test_slowlog_block_semantics():
    """Cancel on short blocks; query lines concatenate with NO
    separator; later duplicate keys replace earlier ones across
    types."""
    from beats_spark.modules import parse_slowlog_block

    assert parse_slowlog_block(None) is None
    assert parse_slowlog_block("# Time: t\n# A: 1") is None  # < 3 lines
    kv_str, kv_num = parse_slowlog_block(
        "# Time: 2021-07-27T08:48:41.65181068Z\n"
        "# Query_time: 1.5 Mem_max: 10\n"
        "# Mem_max: notanum\n"
        "SELECT 1\nFROM t;"
    )
    assert kv_str["Time"] == "2021-07-27T08:48:41.65181068Z"
    assert kv_num["Query_time"] == 1.5
    assert kv_str["Mem_max"] == "notanum" and "Mem_max" not in kv_num
    assert kv_str["Query"] == "SELECT 1FROM t;"
