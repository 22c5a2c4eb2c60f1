"""Multiline sessionization tests (reference semantics:
libbeat/reader/multiline/pattern.go + multiline_test.go model)."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from beats_spark.multiline import DEFAULT_MAX_LINES, multiline_count, multiline_pattern
from tests.conftest import rows

STACK = [
    # (source, part_id, offset, line) — java stack trace shape
    ("a.log", 0, 0, "[2026-01-01 10:00:00] ERROR boom"),
    ("a.log", 0, 40, "java.lang.RuntimeException: boom"),
    ("a.log", 0, 80, "    at com.example.Foo.bar(Foo.java:10)"),
    ("a.log", 0, 120, "[2026-01-01 10:00:01] INFO ok"),
    ("a.log", 0, 160, "[2026-01-01 10:00:02] WARN meh"),
    ("a.log", 0, 200, "    at com.example.Baz.qux(Baz.java:3)"),
    ("b.log", 0, 0, "[2026-01-01 11:00:00] INFO solo"),
]


@pytest.fixture(scope="module")
def lines(spark):
    return spark.createDataFrame(
        STACK, "source string, part_id int, offset long, message string"
    )


def test_pattern_negate_after(lines):
    # classic config: lines NOT starting with [ are continuations
    out = multiline_pattern(lines, pattern=r"^\[", negate=True, match="after")
    got = rows(out, "source", "offset", "message", "n_lines")
    assert got == [
        ("a.log", 0, "[2026-01-01 10:00:00] ERROR boom\njava.lang.RuntimeException: boom\n    at com.example.Foo.bar(Foo.java:10)", 3),
        ("a.log", 120, "[2026-01-01 10:00:01] INFO ok", 1),
        ("a.log", 160, "[2026-01-01 10:00:02] WARN meh\n    at com.example.Baz.qux(Baz.java:3)", 2),
        ("b.log", 0, "[2026-01-01 11:00:00] INFO solo", 1),
    ]


def test_max_lines_caps_merged_event(lines):
    out = multiline_pattern(lines, pattern=r"^\[", negate=True, match="after", max_lines=2)
    first = out.filter("source = 'a.log' and offset = 0").first()
    assert first["n_lines"] == 3  # counted pre-cap
    assert first["message"].count("\n") == 1  # but only 2 lines kept


def test_match_before(spark):
    # continuation marker: line ending with backslash glues to the NEXT line
    data = [
        ("f", 0, 0, "cmd one \\"),
        ("f", 0, 10, "cmd one tail"),
        ("f", 0, 20, "cmd two"),
    ]
    df = spark.createDataFrame(data, "source string, part_id int, offset long, message string")
    out = multiline_pattern(df, pattern=r"\\$", match="before")
    got = rows(out, "offset", "message")
    assert got == [(0, "cmd one \\\ncmd one tail"), (20, "cmd two")]


def test_flush_pattern(spark):
    # negate+after: non-BEGIN lines are continuations; flush_pattern=^END
    # terminates the event so "tail" starts a fresh one.
    data = [
        ("f", 0, 0, "BEGIN"),
        ("f", 0, 10, "work"),
        ("f", 0, 20, "END"),
        ("f", 0, 30, "tail"),
        ("f", 0, 40, "BEGIN"),
    ]
    df = spark.createDataFrame(data, "source string, part_id int, offset long, message string")
    no_flush = multiline_pattern(df, pattern=r"^BEGIN", negate=True, match="after")
    assert rows(no_flush, "offset", "message") == [
        (0, "BEGIN\nwork\nEND\ntail"), (40, "BEGIN"),
    ]
    out = multiline_pattern(df, pattern=r"^BEGIN", negate=True, match="after",
                            flush_pattern=r"^END")
    got = rows(out, "offset", "message")
    assert got == [(0, "BEGIN\nwork\nEND"), (30, "tail"), (40, "BEGIN")]


def test_count_mode(spark):
    data = [("f", 0, i, f"l{i}") for i in range(5)]
    df = spark.createDataFrame(data, "source string, part_id int, offset long, message string")
    out = multiline_count(df, lines_count=2)
    got = rows(out, "offset", "message", "n_lines")
    assert got == [(0, "l0\nl1", 2), (2, "l2\nl3", 2), (4, "l4", 1)]


def test_stream_merge_matches_agg_merge(spark):
    """merge='stream' (single-shuffle mapInPandas) must produce exactly
    the rows of merge='agg', including groups that span Arrow batches
    (forced tiny batch size)."""
    from beats_spark.datagen import generate_events
    from beats_spark.multiline import multiline_pattern
    from tests.conftest import rows

    ev = generate_events(spark, 3000).select(
        "source", "part_id", "offset",
        F.when(F.pmod("offset", 4) != 0, F.concat(F.lit("  at "), F.col("doc_id")))
        .otherwise(F.concat(F.lit("ERR "), F.col("message")))
        .alias("message"),
    )
    cols = ("source", "part_id", "offset", "message", "n_lines")
    kw = dict(pattern=r"^\s+at ", match="after")
    want = sorted(rows(multiline_pattern(ev, **kw), *cols))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        got = sorted(rows(multiline_pattern(ev, merge="stream", **kw), *cols))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == want
    assert len(got) > 100


def test_stream_merge_keeps_null_partition_keys(spark):
    """Null partition-key rows form a group (pandas dropna=False),
    matching merge='agg' (Spark groupBy keeps null keys)."""
    from beats_spark.multiline import multiline_pattern
    from tests.conftest import rows

    lines = spark.createDataFrame(
        [(None, None, 0, "start"), (None, None, 1, "  cont"),
         ("s", 0, 0, "start"), ("s", 0, 1, "  cont")],
        "source string, part_id int, offset long, message string",
    )
    kw = dict(pattern=r"^\s+cont", match="after")
    cols = ("source", "part_id", "offset", "message", "n_lines")
    want = sorted(rows(multiline_pattern(lines, **kw), *cols),
                  key=lambda r: str(r))
    got = sorted(rows(multiline_pattern(lines, merge="stream", **kw), *cols),
                 key=lambda r: str(r))
    assert got == want
    assert len(got) == 2  # one merged event per (null,null) and ('s',0)


def test_stream_merge_max_lines_cap(spark):
    from beats_spark.multiline import multiline_pattern
    from tests.conftest import rows

    lines = spark.createDataFrame(
        [("s", 0, i, "start" if i == 0 else "  cont") for i in range(6)],
        "source string, part_id int, offset long, message string",
    )
    got = rows(
        multiline_pattern(lines, pattern=r"^\s+cont", match="after",
                          max_lines=3, merge="stream"),
        "offset", "message", "n_lines",
    )
    assert got == [(0, "start\n  cont\n  cont", 6)]


ML_COLS = ("source", "part_id", "offset", "message", "n_lines")


def _both_modes(df, **kw):
    return [rows(multiline_pattern(df, merge=m, **kw), *ML_COLS) for m in ("agg", "stream")]


def test_stream_merge_skips_null_lines(spark):
    """A null line inside an event is skipped in the join but counted in
    n_lines, as concat_ws does in merge='agg'; an event whose lines are
    all null merges to ''."""
    lines = spark.createDataFrame(
        [("s", 0, 0, "start"), ("s", 0, 1, None), ("s", 0, 2, "  cont"),
         ("t", 0, 0, None), ("t", 0, 1, None)],
        "source string, part_id int, offset long, message string",
    )
    agg, stream = _both_modes(lines, pattern=r"^\s+cont", match="after")
    assert stream == agg == [("s", 0, 0, "start\n  cont", 3), ("t", 0, 0, "", 2)]


def _random_streams(seed: int) -> list[tuple]:
    """Streams with null keys, null lines and unique offsets per stream,
    one of them null (the window sorts it first, so it is the offset of
    its stream's first event), plus one 250-line event; row order is
    shuffled so the window sorts."""
    rnd = random.Random(seed)
    kinds = ["START a", "START b \\", "  cont", "  cont \\", "END", None]
    out = [("long", 0, i, "START \\" if i == 0 else "  cont \\") for i in range(250)]
    for key in [("a", 0), ("a", 1), ("b", 0), (None, None), (None, 0), ("c", None)]:
        offsets = [None, *rnd.sample(range(1000), rnd.randint(1, 60))]
        out += [(*key, o, rnd.choice(kinds)) for o in offsets]
    rnd.shuffle(out)
    return out


@pytest.mark.parametrize("batch_rows,seed", [(1, 71), (3, 72), (37, 73)])
def test_stream_merge_equals_agg_merge_on_random_streams(spark, batch_rows, seed):
    """merge='stream' equals merge='agg' for every pattern mode, with
    Arrow batches so small that events span batches (the 250-line event
    spans more than 5 even at 37 rows), which exercises the trimmed carry."""
    lines = spark.createDataFrame(
        _random_streams(seed), "source string, part_id int, offset long, message string"
    )
    configs = [
        dict(pattern=r"^\s", match="after"),
        dict(pattern=r"^START", negate=True, match="after"),
        dict(pattern=r"\\$", match="before"),
        dict(pattern=r"^START", negate=True, match="after", flush_pattern=r"^END"),
        dict(pattern=r"\\$", match="before", flush_pattern=r"^END"),
    ]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    try:
        for kw in configs:
            for cap in (DEFAULT_MAX_LINES, 2):
                agg, stream = _both_modes(lines, max_lines=cap, **kw)
                assert stream == agg, (kw, cap)
                assert ("long", 0, 250) in [(r[0], r[2], r[4]) for r in agg]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_stream_merge_plan_is_one_arrow_pass(lines):
    """The stream merge is one MapInArrow over the window's output: no
    pandas pass, the window's one Exchange and its one Sort."""
    out = multiline_pattern(lines, pattern=r"^\[", negate=True, merge="stream")
    plan = out._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", plan, re.M)
    assert "MapInArrow" in nodes and "MapInPandas" not in nodes
    assert nodes.count("Exchange") == 1
    assert nodes.count("Sort") == 1
