"""Source/reader-chain tests (reference: filebeat harvester reader chain,
filebeat/tests/system/test_json.py / docker json model)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from beats_spark.readers import (
    docker_json_reader,
    include_exclude_lines,
    json_reader,
    limit_bytes,
    read_log_lines,
    strip_newline,
)
from tests.conftest import rows


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    (d / "app1.log").write_text("alpha\nbeta\ngamma\n")
    (d / "app2.log").write_text("delta\n")
    (d / "skip.bak").write_text("nope\n")
    return d


def test_read_log_lines_offsets(spark, logdir):
    df = read_log_lines(spark, str(logdir / "*.log"))
    got = [
        (r["source"].rsplit("/", 1)[-1], r["line_no"], r["offset"], r["message"])
        for r in df.collect()
    ]
    assert sorted(got) == [
        ("app1.log", 1, 0, "alpha"),
        ("app1.log", 2, 6, "beta"),
        ("app1.log", 3, 11, "gamma"),
        ("app2.log", 1, 0, "delta"),
    ]


def test_exclude_files(spark, logdir):
    df = read_log_lines(spark, str(logdir / "*"), exclude_files=r"\.bak$")
    assert df.filter("source like '%skip.bak'").count() == 0


def test_strip_newline_and_limit(spark):
    df = spark.createDataFrame([("hello world\r\n",)], "message string")
    out = limit_bytes(strip_newline(df), max_bytes=5)
    assert out.first()["message"] == "hello"


def test_include_exclude_lines(spark):
    df = spark.createDataFrame(
        [("ERR one",), ("WARN two",), ("ERR skip me",)], "message string"
    )
    out = include_exclude_lines(df, include_lines=[r"^ERR"], exclude_lines=[r"skip"])
    assert rows(out, "message") == [("ERR one",)]


def test_json_reader_keys_under_root(spark):
    lines = [json.dumps({"level": "info", "msg": "ok", "id": "x1"}), "broken{"]
    df = spark.createDataFrame([(l,) for l in lines], "message string")
    out = json_reader(
        df, "level string, msg string, id string",
        keys_under_root=True, document_id="id",
    )
    got = {r["meta_id"]: (r["level"], r["msg"], r["error_message"]) for r in out.collect()}
    assert got["x1"] == ("info", "ok", None)
    assert got[None][2] == "Error decoding JSON"


def test_docker_json_reader_partial_join(spark):
    lines = [
        ("c1", 0, json.dumps({"log": "part1 ", "stream": "stdout", "time": "2026-01-01T00:00:00Z"})),
        ("c1", 10, json.dumps({"log": "part2\n", "stream": "stdout", "time": "2026-01-01T00:00:01Z"})),
        ("c1", 20, json.dumps({"log": "whole\n", "stream": "stdout", "time": "2026-01-01T00:00:02Z"})),
        ("c1", 30, json.dumps({"log": "err\n", "stream": "stderr", "time": "2026-01-01T00:00:03Z"})),
    ]
    df = spark.createDataFrame(lines, "source string, offset long, message string")
    out = docker_json_reader(df, stream="stdout")
    assert rows(out, "offset", "message") == [(0, "part1 part2"), (20, "whole")]


def test_cri_reader(spark):
    lines = [
        ("c1", 0, "2026-01-01T00:00:00.000Z stdout P begin "),
        ("c1", 10, "2026-01-01T00:00:00.100Z stdout F end"),
        ("c1", 20, "2026-01-01T00:00:01.000Z stderr F oops"),
    ]
    df = spark.createDataFrame(lines, "source string, offset long, message string")
    out = docker_json_reader(df, cri=True, stream="all")
    assert rows(out, "stream", "message") == [("stderr", "oops"), ("stdout", "begin end")]


@pytest.mark.parametrize("stream", ["all", "stdout"])
def test_cri_reader_parses_once_and_reads_garbage_as_nulls(spark, stream):
    """One evaluation of the CRI regex per row, also with the stream
    filter above it; a line not in CRI format reads as nulls (as a
    non-JSON line does on the docker path) instead of failing the job."""
    from beats_spark.readers import _CRI_RE

    lines = [("c1", 0, "2026-01-01T00:00:00.000Z stdout F ok"),
             ("c1", 10, "not a cri line")]
    df = spark.createDataFrame(lines, "source string, offset long, message string")
    out = docker_json_reader(df, cri=True, stream=stream)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count(_CRI_RE) == 1
    got = [(r.stream, r.message, r.ts is None) for r in out.orderBy("offset").collect()]
    assert got == [("stdout", "ok", False)] + (
        [(None, None, True)] if stream == "all" else [])


@pytest.mark.parametrize("cri", [False, True])
def test_partial_join_keeps_empty_payload_and_nulls_garbage(spark, cri):
    """After the partial-line join, an unparsable line is a null
    message while a legitimately empty payload still reads ''."""
    if cri:
        good = ["2026-01-01T00:00:00.000Z stdout F ",
                "2026-01-01T00:00:01.000Z stdout F x"]
    else:
        good = [json.dumps({"log": "\n", "stream": "stdout",
                            "time": "2026-01-01T00:00:00Z"}),
                json.dumps({"log": "x\n", "stream": "stdout",
                            "time": "2026-01-01T00:00:01Z"})]
    lines = [("c1", 0, good[0]), ("c1", 10, good[1]), ("c1", 20, "garbage{")]
    df = spark.createDataFrame(lines, "source string, offset long, message string")
    out = docker_json_reader(df, cri=cri)
    assert [(r.offset, r.message) for r in out.orderBy("offset").collect()] == \
        [(0, ""), (10, "x"), (20, None)]


def test_read_stdin_frames_lines(spark):
    import io

    from beats_spark.readers import read_stdin

    feed = io.StringIO("ERR boom\nINFO ok\nlast no newline")
    out = read_stdin(spark, stream=feed).collect()
    assert [r["message"] for r in out] == ["ERR boom", "INFO ok",
                                          "last no newline"]
    assert [r["offset"] for r in out] == [0, 1, 2]
    assert all(r["source"] == "stdin" for r in out)


def test_read_stdin_composes_with_pipeline(spark):
    import io

    from beats_spark.pipeline import build_pipeline
    from beats_spark.readers import read_stdin

    feed = io.StringIO("a=1\na=2\n")
    ev = read_stdin(spark, stream=feed)
    chain = build_pipeline([
        {"dissect": {"tokenizer": "a=%{v}", "target_prefix": ""}},
    ])
    got = sorted(r["v"] for r in chain(ev).collect())
    assert got == ["1", "2"]


def test_file_identity_strategies(spark, tmp_path):
    import os
    from pathlib import Path

    from beats_spark.readers import file_identity

    a = tmp_path / "a.log"
    b = tmp_path / "b.log"
    a.write_text("x\n")
    b.write_text("y\n")
    glob = str(tmp_path / "*.log")

    nat = {r["source"]: r["file_id"]
           for r in file_identity(spark, glob, "native").collect()}
    assert len(nat) == 2
    st = os.stat(a)
    assert nat[Path(a).as_uri()] == f"{st.st_ino}-{st.st_dev}"

    pth = {r["source"]: r["file_id"]
           for r in file_identity(spark, glob, "path").collect()}
    assert pth[Path(b).as_uri()] == Path(b).as_uri()

    marker = tmp_path / "marker"
    marker.write_text("vol-7\n")
    im = file_identity(spark, glob, "inode_marker",
                       marker_path=str(marker)).collect()
    assert all(r["file_id"].endswith("-vol-7") for r in im)

    with pytest.raises(ValueError, match="strategy"):
        file_identity(spark, glob, "bogus")


def test_load_state_never_reads_a_missing_checkpoint(spark, tmp_path):
    """A first run (no checkpoint yet) gets the empty state without
    asking ``spark.read`` for the missing path, which Spark would log as
    an ERROR; a directory with no commit in it reads as empty."""
    from beats_spark.checkpoint import load_state

    reads = []

    class Watched:
        def __getattr__(self, name):
            return getattr(spark, name)

        @property
        def read(self):
            reads.append(1)
            return spark.read

    st = load_state(Watched(), str(tmp_path / "missing"))
    assert reads == []
    assert st.columns == ["source", "part_id", "committed_offset"]
    assert st.collect() == []
    (tmp_path / "empty").mkdir()
    assert load_state(spark, str(tmp_path / "empty")).collect() == []


def test_native_identity_survives_rotation_resume(spark, tmp_path):
    """Log rotation with native (inode-device) identity: the registrar
    state follows the RENAMED file, so resume re-reads nothing from it
    and picks up the fresh file from zero — no dup, no loss (the
    path-identity failure mode this strategy exists for,
    identifier.go:91-123)."""
    import os

    from beats_spark.checkpoint import (
        commit, load_state, partition_stats, resume_filter,
    )
    from beats_spark.readers import attach_file_identity, file_identity, read_log_lines

    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    cur = log_dir / "app.log"
    cur.write_text("".join(f"old {i}\n" for i in range(10)))
    glob = str(log_dir / "app.log*")
    cp = str(tmp_path / "registry")

    def scan():
        ident = file_identity(spark, glob, "native")
        lines = read_log_lines(spark, glob)
        return attach_file_identity(lines, ident).withColumn(
            "part_id", F.lit(0)
        )

    # run 1: read everything, commit offsets keyed by inode id
    ev1 = resume_filter(scan(), load_state(spark, cp))
    assert ev1.count() == 10
    commit(partition_stats(ev1, ev1, run_id="r1"), cp)

    # rotation: rename + append to the moved file; fresh file appears
    rotated = log_dir / "app.log.1"
    os.rename(cur, rotated)
    with open(rotated, "a") as f:
        f.write("tail 1\ntail 2\n")
    cur.write_text("new 1\n")

    ev2 = resume_filter(scan(), load_state(spark, cp))
    got = sorted(r["message"] for r in ev2.collect())
    # ONLY the appended tail of the rotated file + the fresh file
    assert got == ["new 1", "tail 1", "tail 2"]


def test_registrar_truncation_rereads_from_start(spark, tmp_path):
    """Reference registrar truncation case
    (filebeat/tests/system/test_registrar.py, input.go:565-578): a
    file truncated below its committed offset re-reads from the
    beginning — the committed state is voided, not applied."""
    from beats_spark.checkpoint import (
        commit, load_state, partition_stats, resume_filter,
    )
    from beats_spark.readers import read_log_lines

    log = tmp_path / "trunc.log"
    log.write_text("".join(f"first run line {i}\n" for i in range(20)))
    cp = str(tmp_path / "registry")

    def scan():
        return read_log_lines(spark, str(log)).withColumn(
            "part_id", F.lit(0)
        )

    ev1 = resume_filter(scan(), load_state(spark, cp))
    assert ev1.count() == 20
    commit(partition_stats(ev1, ev1, run_id="r1"), cp)

    # logrotate copytruncate: file shrinks below the committed offset
    log.write_text("after truncate A\nafter truncate B\n")
    ev2 = resume_filter(scan(), load_state(spark, cp))
    got = sorted(r["message"] for r in ev2.collect())
    assert got == ["after truncate A", "after truncate B"]

    # and with detection off, the old behavior: everything filtered
    assert resume_filter(scan(), load_state(spark, cp),
                         detect_truncation=False).count() == 0

    # recovery run commits its (smaller) offset; the LATEST commit must
    # supersede the stale pre-truncation one — otherwise every later
    # run re-voids the key and republishes the whole file forever
    commit(partition_stats(ev2, ev2, run_id="r2"), cp)
    assert resume_filter(scan(), load_state(spark, cp)).count() == 0

    # an append after the recovery resumes from the recovered offset
    with open(log, "a") as f:
        f.write("after truncate C\n")
    ev4 = resume_filter(scan(), load_state(spark, cp))
    assert [r["message"] for r in ev4.collect()] == ["after truncate C"]


def test_registrar_inode_reuse_smaller_file_rereads(spark, tmp_path):
    """Inode-reuse case from the reference registrar tests: a NEW file
    that inherits a deleted file's inode-device id (simulated with an
    explicit identity dim — real inode recycling can't be forced)
    resumes against the dead file's state; being smaller, it must take
    the truncation path and re-read fully — not lose its head."""
    from beats_spark.checkpoint import (
        commit, load_state, partition_stats, resume_filter,
    )
    from beats_spark.readers import attach_file_identity, read_log_lines

    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    a = log_dir / "a.log"
    a.write_text("".join(f"file A line {i}\n" for i in range(15)))
    cp = str(tmp_path / "registry")
    reused_id = "inode-777-dev-1"

    def scan(path):
        ident = spark.createDataFrame(
            [(path.resolve().as_uri(), reused_id)], "source string, file_id string"
        )
        return attach_file_identity(
            read_log_lines(spark, str(path)), ident
        ).withColumn("part_id", F.lit(0))

    ev1 = resume_filter(scan(a), load_state(spark, cp))
    assert ev1.count() == 15
    commit(partition_stats(ev1, ev1, run_id="r1"), cp)

    a.unlink()
    b = log_dir / "b.log"  # new file, recycled inode → same file_id
    b.write_text("fresh B 1\nfresh B 2\n")
    ev2 = resume_filter(scan(b), load_state(spark, cp))
    got = sorted(r["message"] for r in ev2.collect())
    assert got == ["fresh B 1", "fresh B 2"]


def test_strip_bom_first_line_only(spark, tmp_path):
    """UTF-8 BOM at file start is consumed (reference fixture
    bom8.log); offsets still count the BOM bytes, and a stray U+FEFF
    mid-file is NOT touched."""
    p = tmp_path / "bom.log"
    p.write_bytes("﻿hello world\n﻿not a bom\n".encode("utf-8"))
    rows_ = {
        r["line_no"]: (r["message"], r["offset"])
        for r in read_log_lines(spark, str(p)).collect()
    }
    assert rows_[1][0] == "hello world" and rows_[1][1] == 0
    # line 1 consumed 3 BOM bytes + 11 text + 1 terminator = 15
    assert rows_[2] == ("﻿not a bom", 15)


def test_bom_offsets_on_percent_encoded_path(spark, tmp_path):
    """BOM correction must survive paths input_file_name() percent-
    encodes (a space becomes %20) while the Hadoop probe reports them
    raw — a join-key mismatch would silently drop the +3 bytes."""
    p = tmp_path / "app 1.log"
    p.write_bytes("﻿first\nsecond\n".encode("utf-8"))
    rows_ = {
        r["line_no"]: r["offset"]
        for r in read_log_lines(spark, str(p)).collect()
    }
    # line 1: offset 0; line 2: 3 BOM + 5 text + 1 terminator = 9
    assert rows_ == {1: 0, 2: 9}
    # and the deterministic opt-out really skips the probe
    rows_off = {
        r["line_no"]: r["offset"]
        for r in read_log_lines(spark, str(p), bom_probe=False).collect()
    }
    assert rows_off == {1: 0, 2: 6}
