"""Constant frames: ``session.local_frame`` is the one place beats_spark
turns driver-side rows into a DataFrame. It gives what
``createDataFrame(list)`` gives, but plans as a JVM ``LocalTableScan``
instead of a pickled Python RDD (``Scan ExistingRDD``), so a plan that
reads it starts no Python worker tasks."""

from __future__ import annotations

import ast
import datetime
import decimal
import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from beats_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parents[1] / "beats_spark"


class _CreateDataFrameUses(ast.NodeVisitor):
    """Every ``.createDataFrame`` attribute under a module, with the
    function that encloses it."""

    def __init__(self, where: str):
        self.where, self.funcs, self.found = where, [], []

    def visit_FunctionDef(self, node):
        self.funcs.append(node.name)
        self.generic_visit(node)
        self.funcs.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.found.append((self.where, self.funcs[-1] if self.funcs else None))
        self.generic_visit(node)


def test_create_dataframe_only_inside_local_frame():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        v = _CreateDataFrameUses(str(path.relative_to(PKG)))
        v.visit(ast.parse(path.read_text()))
        found += v.found
    assert found == [("session.py", "local_frame")]


DDL = ("s string, i int, l long, ts timestamp, a array<string>, m map<string,int>, "
       "st struct<x: int, t: timestamp, q: array<long>>, `host.name` string")
TS = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
FULL = ("x", 1, 2**40, TS, ["a", None], {"k": 1, "j": None}, (3, TS, [1, 2]), "h1")
EMPTY_VALUES = ("", 0, 0, datetime.datetime(1970, 1, 1), [], {}, (None, None, None), "")
NULLS = (None,) * 8
DATE_DEC = T.StructType([T.StructField("d", T.DateType()),
                         T.StructField("n", T.DecimalType(10, 2))])


@pytest.mark.parametrize("rows,schema", [
    ([FULL, EMPTY_VALUES, NULLS], DDL),
    ([NULLS], DDL),
    ([], DDL),
    ([Row(d=datetime.date(2020, 1, 2), n=decimal.Decimal("1.25")),
      {"d": None, "n": decimal.Decimal("-3.50")}], DATE_DEC),
], ids=["mixed", "null_row", "zero_rows", "struct_type_rows_and_dicts"])
def test_local_frame_equals_create_dataframe(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got._jdf.queryExecution().sparkPlan().toString().startswith("LocalTableScan")


STRICT = T.StructType([T.StructField("k", T.StringType(), nullable=False),
                       T.StructField("n", T.IntegerType())])


@pytest.mark.parametrize("bad_row", [("a", 1, "extra"), (None, 1), ("a", True), ("a", "1")],
                         ids=["extra_value", "null_in_non_nullable", "bool_as_int", "str_as_int"])
def test_local_frame_rejects_what_create_dataframe_rejects(spark, bad_row):
    rows = [("ok", 1), bad_row]
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, STRICT)
    with pytest.raises(Exception) as got:
        local_frame(spark, rows, STRICT)
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def test_flagship_dim_is_a_local_table_scan(spark):
    """The flagship plan (dissect -> drop_event -> host_dim enrich ->
    route -> aggregate) reads its broadcast dim from the JVM."""
    from beats_spark.app import LogPipeline
    from beats_spark.datagen import TOKENIZER, generate_events, host_dim

    pipe = LogPipeline(
        processors=[{"dissect": {"tokenizer": TOKENIZER, "target_prefix": ""}},
                    {"drop_event": {"when": {"equals": {"level": "debug"}}}},
                    {"add_host_metadata": {"dim": host_dim(spark), "prefix": "host_"}}],
        routing={"indices": [{"index": "errors", "when": {"equals": {"level": "error"}}},
                             {"index": "logs-%{[host_env]}"}],
                 "default": "dead-letter"},
    )
    out = pipe.aggregates(pipe.routed(generate_events(spark, 200, partitions=2)))
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert out.count() > 0
