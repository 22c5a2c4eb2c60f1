"""Sources & reader chain: file discovery → line decode → structured parse.

Re-expresses the reference's harvester reader chain
(``filebeat/input/log/harvester.go:644-697``: line → encode →
docker-json → json → strip_newline → multiline → limit) as composed
``DataFrame → DataFrame`` stages. File discovery (glob paths,
``exclude_files``) maps to ``spark.read.text(paths)`` +
``input_file_name()``; per-file offsets (``harvester.go:330-359``)
become deterministic per-line positions computed from line lengths
with a window — no driver-side iteration, no zipWithIndex.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.dissect import captures
from beats_spark.session import local_frame


def read_log_lines(
    spark: SparkSession,
    paths: str | Sequence[str],
    exclude_files: str | None = None,
    line_terminator_bytes: int = 1,
    bom_probe: bool = True,
) -> DataFrame:
    """Scan text files into (source, offset, message) rows.

    ``offset`` is the byte offset of each line within its file (the
    harvester's ``state.Offset`` analogue, advanced by line bytes +
    terminator — ``filebeat/input/log/harvester.go:443``): a running
    sum over a per-file window. ``line_no`` is the 1-based line number.

    UTF-8 BOM accounting: Hadoop's text reader consumes a file-start
    BOM before Spark sees the first line (the reference's decoder does
    the same — ``libbeat/reader/readfile/encode.go``, fixture
    ``filebeat/tests/files/logs/bom8.log``), so a pure line-length sum
    would undercount every offset after line 1 by 3 bytes. A
    driver-side 3-byte head probe over the globbed files (file-count
    sized, same scan scale as :func:`file_identity`) broadcast-joins a
    per-file correction so offsets keep counting the consumed BOM,
    exactly like the harvester's ``state.Offset``.
    """
    if isinstance(paths, str):
        paths = [paths]
    df = (
        spark.read.text(list(paths))
        .withColumn("source", F.input_file_name())
        .withColumnRenamed("value", "message")
    )
    if exclude_files:
        df = df.filter(~F.col("source").rlike(exclude_files))
    # spark.read.text preserves in-file line order within each file
    # split; a per-file monotonic id gives a stable order key.
    df = df.withColumn("_mono", F.monotonically_increasing_id())
    w = Window.partitionBy("source").orderBy("_mono")
    line_bytes = F.octet_length("message") + F.lit(line_terminator_bytes)
    df = (
        df.withColumn("line_no", F.row_number().over(w))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum(line_bytes).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .drop("_mono")
    )
    bom_paths = _bom_file_paths(spark, paths) if bom_probe else []
    if bom_paths:
        dim = local_frame(spark, [(p,) for p in bom_paths], "_bom_path string")
        key = _normalize_uri(F.col("source"))
        df = (
            df.join(
                F.broadcast(dim),
                key == _normalize_uri(F.col("_bom_path")),
                "left",
            )
            # the BOM bytes belong to line 1's advance: line 1 still
            # starts at offset 0, every later line shifts by 3.
            .withColumn(
                "offset",
                F.col("offset")
                + F.when(
                    F.col("_bom_path").isNotNull() & (F.col("line_no") > 1), F.lit(3)
                ).otherwise(F.lit(0)),
            )
            .drop("_bom_path")
        )
    return df


def _normalize_uri(col):
    """Collapse scheme, slash-count, AND percent-encoding differences
    between ``input_file_name()`` (``file:///x``, percent-encoded:
    a space becomes ``%20``) and Hadoop ``Path`` strings (``file:/x``,
    raw) to a bare decoded ``/x`` join key. ``try_url_decode`` returns
    NULL on a raw path whose literal ``%`` isn't a valid escape, so
    the coalesce keeps already-raw paths as-is instead of erroring."""
    bare = F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/")
    return F.coalesce(F.try_url_decode(bare), bare)


def _bom_file_paths(spark: SparkSession, paths: Sequence[str]) -> list[str]:
    """Driver-side probe: which globbed files start with a UTF-8 BOM.

    Uses the Hadoop FileSystem API (not ``glob.glob``) so the probe
    resolves the same paths ``spark.read.text`` will — local, HDFS, or
    object-store. Cost is 3 bytes per matched FILE, so it scales with
    file count (like the reference's prospector scan), never with
    data volume.

    A probe failure RAISES rather than silently skipping: a run whose
    corrections flip between "applied" and "not applied" shifts every
    post-BOM offset by 3, and a checkpoint committed under one regime
    re-reads (duplicates) or skips (loses) lines under the other.
    Callers on a filesystem that genuinely can't serve head reads can
    opt out deterministically with ``read_log_lines(bom_probe=False)``.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    bom = []
    for pat in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(pat)
        fs = jpath.getFileSystem(conf)
        statuses = fs.globStatus(jpath)
        if statuses is None:
            continue
        stack = list(statuses)
        while stack:
            st = stack.pop()
            if st.isDirectory():
                stack.extend(fs.listStatus(st.getPath()))
                continue
            if st.getLen() < 3:
                continue
            stream = fs.open(st.getPath())
            try:
                head = bytes(stream.read() & 0xFF for _ in range(3))
            finally:
                stream.close()
            if head == b"\xef\xbb\xbf":
                bom.append(st.getPath().toString())
    return bom


def strip_bom(df: DataFrame, line_col: str = "message",
              offset_col: str = "offset") -> DataFrame:
    """UTF-8 BOM removal at file start (the reference's line decoder
    consumes a leading U+FEFF before the first line —
    ``libbeat/reader/readfile/encode.go``, fixture
    ``filebeat/tests/files/logs/bom8.log``). Only the FIRST line of a
    file (offset 0) is touched; offsets keep counting the consumed
    BOM bytes, exactly like the harvester's ``state.Offset``.

    Only needed on the binary-read path (:func:`decode_charset`),
    where the BOM reaches the frame intact — ``spark.read.text``'s
    Hadoop line reader already consumes it, and
    :func:`read_log_lines` accounts for those bytes via its
    driver-side head probe instead."""
    c = F.col(line_col)
    return df.withColumn(
        line_col,
        F.when(
            (F.col(offset_col) == 0) & c.startswith("﻿"),
            c.substr(F.lit(2), F.length(c)),
        ).otherwise(c),
    )


def strip_newline(df: DataFrame, line_col: str = "message") -> DataFrame:
    """Trim trailing line terminators (``libbeat/reader/readfile/strip_newline.go``)."""
    return df.withColumn(line_col, F.regexp_replace(F.col(line_col), r"[\r\n]+$", ""))


def limit_bytes(df: DataFrame, max_bytes: int, line_col: str = "message") -> DataFrame:
    """Truncate messages to ``max_bytes`` (``libbeat/reader/readfile/limit.go``)."""
    return df.withColumn(line_col, F.substring(F.col(line_col), 1, max_bytes))


def include_exclude_lines(
    df: DataFrame,
    include_lines: Sequence[str] | None = None,
    exclude_lines: Sequence[str] | None = None,
    line_col: str = "message",
) -> DataFrame:
    """Regex keep/drop; include evaluated before exclude
    (``filebeat/input/log/harvester.go:488-507``)."""
    col = F.col(line_col)
    if include_lines:
        keep = col.rlike(include_lines[0])
        for p in include_lines[1:]:
            keep = keep | col.rlike(p)
        df = df.filter(keep)
    if exclude_lines:
        drop = col.rlike(exclude_lines[0])
        for p in exclude_lines[1:]:
            drop = drop | col.rlike(p)
        df = df.filter(~drop)
    return df


def json_reader(
    df: DataFrame,
    schema: T.StructType | str,
    line_col: str = "message",
    keys_under_root: bool = False,
    overwrite_keys: bool = False,
    add_error_key: bool = True,
    message_key: str | None = None,
    document_id: str | None = None,
    target: str = "json",
) -> DataFrame:
    """Parse each line as JSON (``libbeat/reader/readjson/json.go``).

    With ``keys_under_root`` the parsed fields land as top-level
    columns; ``overwrite_keys`` controls whether they replace existing
    columns of the same name. ``document_id`` lifts a parsed field into
    ``meta_id`` (the ES ``_id`` hint). Malformed JSON → null struct +
    ``error_message`` when ``add_error_key``.
    """
    # from_json yields an all-null struct (not NULL) on malformed input;
    # try_parse_json is the authoritative validity probe.
    valid = F.try_parse_json(F.col(line_col)).isNotNull()
    parsed = F.when(valid, F.from_json(F.col(line_col), schema))
    df = df.withColumn(target, parsed)
    if add_error_key:
        df = df.withColumn(
            "error_message",
            F.when(
                F.col(line_col).isNotNull() & ~valid,
                F.lit("Error decoding JSON"),
            ),
        )
    if document_id:
        df = df.withColumn("meta_id", F.col(f"{target}.{document_id}"))
    if message_key:
        df = df.withColumn(line_col, F.coalesce(F.col(f"{target}.{message_key}"), F.col(line_col)))
    if keys_under_root:
        struct_fields = df.select(f"{target}.*").columns
        for name in struct_fields:
            if name in df.columns and not overwrite_keys:
                continue
            df = df.withColumn(name, F.col(f"{target}.{name}"))
        df = df.drop(target)
    return df


_DOCKER_SCHEMA = T.StructType(
    [
        T.StructField("log", T.StringType()),
        T.StructField("stream", T.StringType()),
        T.StructField("time", T.StringType()),
    ]
)

# `$` may stop before a final line terminator; the tail swallows it, so
# the whole line is consumed and the payload ends where `$` put it
_CRI_RE = r"^([^ ]+) (stdout|stderr) ([PF]) (.*)$[\s\S]*"


def docker_json_reader(
    df: DataFrame,
    stream: str = "all",
    line_col: str = "message",
    partial: bool = True,
    cri: bool = False,
    partition_cols: Sequence[str] = ("source",),
    order_col: str = "offset",
) -> DataFrame:
    """Parse docker (json-file) or CRI container log lines
    (``libbeat/reader/readjson/docker_json.go``).

    Docker format: ``{"log": "...\\n", "stream": "stdout", "time": "..."}``
    — a payload not ending in ``\\n`` is a partial line joined with its
    successors. CRI format: ``TIME STREAM P|F PAYLOAD`` with an explicit
    partial flag. Partial-line joining reuses the multiline
    sessionization (match=before on the partial marker).
    """
    if cri:
        # one regex evaluation; a line not in CRI format reads as nulls
        df, ok, group = captures(df, "_cri_parts", F.col(line_col), _CRI_RE, 4)
        df = df.withColumns({
            "ts_raw": F.when(ok, group(1)),
            "stream": F.when(ok, group(2)),
            "_partial": F.when(ok, group(3) == "P"),
            line_col: F.when(ok, group(4)),
        }).drop("_cri_parts")
    else:
        parsed = F.from_json(F.col(line_col), _DOCKER_SCHEMA)
        df = (
            df.withColumn("ts_raw", parsed["time"])
            .withColumn("stream", parsed["stream"])
            .withColumn("_partial", ~parsed["log"].endswith("\n"))
            .withColumn(line_col, F.regexp_replace(parsed["log"], r"\n$", ""))
        )
    df = df.withColumn("ts", F.to_timestamp(F.regexp_replace("ts_raw", r"Z$", "+00:00"))).drop(
        "ts_raw"
    )
    if stream != "all":
        df = df.filter(F.col("stream") == stream)
    if partial:
        # partial line → glued to the following line(s): new event
        # starts where the previous line was NOT partial.
        w = Window.partitionBy(*partition_cols, "stream").orderBy(order_col)
        prev_partial = F.lag(F.col("_partial"), 1, False).over(w)
        grouped = df.withColumn(
            "_grp", F.sum((~prev_partial).cast("long")).over(w)
        )
        lines = F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(line_col).alias("l")))
        )
        texts = F.transform(F.col("_lines"), lambda x: x["l"])
        df = (
            grouped.groupBy(*partition_cols, "stream", "_grp")
            .agg(
                F.min(order_col).alias(order_col),
                F.min("ts").alias("ts"),
                lines.alias("_lines"),
            )
            # concat_ws skips null lines: a group of only unparsable
            # lines must read null, while an empty payload reads ''
            .withColumn(line_col, F.when(
                F.exists(texts, lambda t: t.isNotNull()), F.concat_ws("", texts)))
            .drop("_lines", "_grp")
        )
    return df.drop("_partial") if "_partial" in df.columns else df


def decode_charset(df: DataFrame, charset: str, col: str = "message_bin") -> DataFrame:
    """Charset decode for binary-read inputs (``libbeat/reader/readfile/encode.go``)."""
    return df.withColumn("message", F.decode(F.col(col), charset))


def match_glob_sources(df: DataFrame, ignore_older_ts=None, ts_col: str = "ts") -> DataFrame:
    """``ignore_older``: drop rows older than the cutoff (scanner analogue,
    ``filebeat/input/log/input.go:454``)."""
    if ignore_older_ts is None:
        return df
    return df.filter(F.col(ts_col) >= F.lit(ignore_older_ts))


def read_stdin(
    spark: SparkSession,
    stream=None,
    message_key: str = "message",
    partitions: int | None = None,
) -> DataFrame:
    """stdin input (``filebeat/input/stdin/input.go:39-77``): one
    harvester over the process's standard input, one event per line,
    ``source`` fixed to ``"stdin"`` and a monotone per-line offset —
    the same frame every other source produces, so the full
    multiline → processor → route chain composes behind it.

    stdin is inherently a driver-side, single-process feed (the
    reference starts exactly one harvester); the driver reads and
    turns the lines into one :func:`local_frame`. With ``partitions``
    unset, Spark folds the deterministic parse/enrich projections over
    that frame into a new local relation on the driver at optimization
    time, which suits a stdin-sized feed; ``partitions`` repartitions
    the lines first, so the downstream work runs on executors. Not a
    100 TB path — edge collection parity, same as the socket inputs.

    ``stream`` defaults to ``sys.stdin``; pass any text iterable for
    tests.
    """
    import sys

    src = stream if stream is not None else sys.stdin
    rows = [
        (ln[:-1] if ln.endswith("\n") else ln, i)
        for i, ln in enumerate(src)
    ]
    df = local_frame(spark, rows, "value string, offset long")
    if partitions:
        df = df.repartition(partitions)
    return df.select(
        F.lit("stdin").alias("source"),
        F.lit(0).alias("part_id"),
        F.col("offset"),
        F.current_timestamp().alias("ts"),
        F.col("value").alias(message_key),
    )


def file_identity(
    spark: SparkSession,
    paths: str | Sequence[str],
    strategy: str = "native",
    marker_path: str | None = None,
) -> DataFrame:
    """File-identity dim (source URI → stable ``file_id``), the
    filestream input's identity strategies
    (``filebeat/input/filestream/identifier.go:36-48``):

    - ``native``: inode-device (``identifier.go:91-123``) — survives
      renames, so log ROTATION keeps the registrar state attached to
      the moved file instead of re-reading it.
    - ``path``: the file path itself (``identifier.go:124-140``).
    - ``inode_marker``: inode + an operator-provided marker file's
      content (shared-filesystem deployments where device ids float).

    The glob scan and ``os.stat`` run on the driver — the reference's
    prospector scan is equally single-process per input
    (``filestream/prospector.go``); the result is a tiny dim that
    broadcast-joins onto the line frame
    (:func:`attach_file_identity`). File COUNT scales this, not file
    size: millions of files → list once, still driver-trivial.
    """
    import glob as _glob
    import os
    from pathlib import Path

    if isinstance(paths, str):
        paths = [paths]
    if strategy not in ("native", "path", "inode_marker"):
        raise ValueError(f"unknown file_identity strategy {strategy!r}")
    if strategy == "inode_marker":
        if marker_path is None:
            raise ValueError("inode_marker identity requires marker_path")
        marker = Path(marker_path).read_text().strip()
    matched = sorted({p for pat in paths for p in _glob.glob(pat)})
    out = []
    for p in matched:
        uri = Path(os.path.abspath(p)).as_uri()
        if strategy == "path":
            fid = uri
        elif strategy == "native":
            st = os.stat(p)
            fid = f"{st.st_ino}-{st.st_dev}"
        else:
            fid = f"{os.stat(p).st_ino}-{marker}"
        out.append((uri, fid))
    return local_frame(spark, out, "source string, file_id string")


def attach_file_identity(
    df: DataFrame, identity: DataFrame, keep_path_col: str = "log_path"
) -> DataFrame:
    """Re-key the line frame on the stable file id: ``source`` becomes
    ``file_id`` (so the checkpoint's (source, part_id) state key —
    ``checkpoint.STATE_KEY`` — survives renames/rotation with NO
    checkpoint-layer change), the original path is kept in
    ``keep_path_col``. Broadcast join: the dim is file-count sized."""
    dim = identity.select(
        F.col("source").alias("_fi_src"), F.col("file_id").alias("_fi_id")
    )
    j = df.join(F.broadcast(dim), df["source"] == F.col("_fi_src"), "left")
    return (
        j.withColumn(keep_path_col, F.col("source"))
        .withColumn("source", F.coalesce(F.col("_fi_id"), F.col("source")))
        .drop("_fi_src", "_fi_id")
    )
