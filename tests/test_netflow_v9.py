"""NetFlow v9 templated decode — session-state semantics.

Mirrors the reference's v9/session tests
(``x-pack/filebeat/input/netflow/decoder/v9/session_test.go``,
``v9_test.go``): template-before-data decodes, data-before-template
drops, templates persist across packets (and micro-batches in the
streaming form), unknown fields skip without corrupting offsets.
"""

import pickle

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from beats_spark.processors.netflow_v9 import (
    V9_HEADER_DT,
    compile_template,
    encode_netflow_v9,
    encode_template_flowset,
    parse_netflow_v9,
    stream_netflow_v9,
)

TEMPLATE = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
            (2, 4), (1, 4), (22, 4), (21, 4)]
# srcaddr dstaddr srcport dstport prot tcp_flags packets octets
# first_uptime last_uptime


def _flows(spark, n, n_exporters=3):
    e = spark.range(n)
    pid = (F.col("id") / 5).cast("long")
    return e.select(
        pid.alias("packet_id"),
        (F.col("id") % 5).alias("rec_idx"),
        F.concat(F.lit("udp://10.9.9."),
                 (pid % n_exporters).cast("string")).alias("exporter"),
        # each exporter's FIRST packet carries the template flowset
        (pid < n_exporters).alias("send_template"),
        F.lit(7).alias("source_id"),
        (pid * 11).alias("package_sequence"),
        (F.lit(1700000000) + pid).alias("unix_secs"),
        F.lit(123).alias("sys_uptime"),
        (F.col("id") * 3 + 1).alias("srcaddr"),
        (F.col("id") * 5 + 2).alias("dstaddr"),
        (F.col("id") % 65536).alias("srcport"),
        ((F.col("id") * 7) % 65536).alias("dstport"),
        (F.col("id") % 256).alias("prot"),
        F.lit(16).alias("tcp_flags"),
        (F.col("id") + 10).alias("packets"),
        (F.col("id") * 100).alias("octets"),
        F.col("id").alias("first_uptime"),
        (F.col("id") + 1).alias("last_uptime"),
    )


def test_v9_round_trip_with_session_state(spark):
    """Templates live only in each exporter's first packet; every
    later data-only packet decodes via the session map."""
    flows = _flows(spark, 60, n_exporters=3)
    parsed = parse_netflow_v9(
        encode_netflow_v9(flows, TEMPLATE))
    rows = {r.first_uptime: r for r in parsed.collect()}
    assert len(rows) == 60  # nothing dropped: template precedes data
    r = rows[59]
    assert r.srcaddr == 59 * 3 + 1 and r.dstaddr == 59 * 5 + 2
    assert r.prot == 59 % 256 and r.octets == 5900
    assert r.source_id == 7 and r.unix_secs == 1700000000 + 11
    assert r.template_id == 256 and r.rec_idx == 4
    # fields absent from the template are NULL, not garbage
    assert r.nexthop is None and r.src_as is None


def test_v9_data_before_template_dropped(spark):
    """v9.go:124 + session.go:64-66 — a data set whose template has
    not been announced yet yields no records; once the template
    arrives (later recv_seq), subsequent data decodes."""
    flows = _flows(spark, 30, n_exporters=1)
    # template only in packet 3 of 6 → packets 0-2 (records 0-14) drop
    flows = flows.withColumn("send_template", F.col("packet_id") == 3)
    parsed = parse_netflow_v9(encode_netflow_v9(flows, TEMPLATE))
    got = sorted(r.first_uptime for r in parsed.collect())
    assert got == list(range(15, 30))


def test_v9_unknown_fields_skip_not_corrupt():
    """An enterprise field type mid-template becomes a dead offset;
    the fields after it still land at the right bytes."""
    dt, known = compile_template([(8, 4), (9999, 6), (7, 2)])
    assert dt.itemsize == 12 and known == ["srcaddr", "srcport"]
    raw = (int(167837953).to_bytes(4, "big") + b"\xff" * 6
           + int(8080).to_bytes(2, "big"))
    import numpy as np
    rec = np.frombuffer(raw, dt)
    assert int(rec["srcaddr"][0]) == 167837953
    assert int(rec["srcport"][0]) == 8080


def test_v9_malformed_and_options_sets(spark):
    """Short packets, wrong version, truncated sets and options
    templates (set 1) all drop silently, like the reference's error
    path — the good packet in the same frame still decodes."""
    import numpy as np
    h = np.zeros(1, V9_HEADER_DT)
    h["version"] = 9
    h["count"] = 1
    h["source_id"] = 7
    tset = encode_template_flowset([(256, [(8, 4)])])
    dset = (256).to_bytes(2, "big") + (8).to_bytes(2, "big") \
        + int(42).to_bytes(4, "big")
    oset = (1).to_bytes(2, "big") + (8).to_bytes(2, "big") + b"\x00" * 4
    good = h.tobytes() + tset + oset + dset
    badver = bytearray(good)
    badver[1] = 5  # version 5 in a v9 stream
    truncated = good[:-2]
    rows = [
        Row(exporter="e", recv_seq=1, packet=bytes(good)),
        Row(exporter="e", recv_seq=2, packet=bytes(badver)),
        Row(exporter="e", recv_seq=3, packet=b"\x00\x09"),
        Row(exporter="e", recv_seq=4, packet=bytes(truncated)),
    ]
    df = spark.createDataFrame(rows)
    out = parse_netflow_v9(df).collect()
    # good decodes once; truncated's data set is cut mid-record so
    # its record count floors to 0
    assert [r.srcaddr for r in out] == [42]


def test_v9_sessions_are_per_source_id(spark):
    """session.go:25-27 — the template key includes source_id: the
    same template id under a different observation domain must NOT
    decode the other domain's records."""
    import numpy as np
    tset = encode_template_flowset([(256, [(8, 4)])])
    dset = (256).to_bytes(2, "big") + (8).to_bytes(2, "big") \
        + int(42).to_bytes(4, "big")

    def pkt(source_id, body):
        h = np.zeros(1, V9_HEADER_DT)
        h["version"] = 9
        h["source_id"] = source_id
        return h.tobytes() + body

    rows = [
        Row(exporter="e", recv_seq=1, packet=pkt(1, tset)),
        Row(exporter="e", recv_seq=2, packet=pkt(2, dset)),  # wrong sid
        Row(exporter="e", recv_seq=3, packet=pkt(1, dset)),  # right sid
    ]
    out = parse_netflow_v9(spark.createDataFrame(rows)).collect()
    assert len(out) == 1 and out[0].source_id == 1


def test_v9_streaming_template_state_across_batches(spark, tmp_path):
    """The streaming session map: micro-batch 1 announces the
    template (plus 5 records), micro-batch 2 is data-only — its
    records must decode from persisted state."""
    from beats_spark.streaming.sources import stream_parquet_dir

    flows = _flows(spark, 10, n_exporters=1)  # packets 0 (tmpl) and 1
    pkts = encode_netflow_v9(flows, TEMPLATE)
    src = str(tmp_path / "src")
    pkts.filter(F.col("recv_seq") == 0).coalesce(1) \
        .write.mode("append").parquet(src)
    pkts.filter(F.col("recv_seq") > 0).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = stream_parquet_dir(spark, src, max_files_per_trigger=1)
    out_dir, cp = tmp_path / "out", tmp_path / "cp"
    q = (stream_netflow_v9(stream).writeStream
         .format("parquet").option("path", str(out_dir))
         .option("checkpointLocation", str(cp))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.read.parquet(str(out_dir))
    assert sorted(r.first_uptime for r in got.collect()) == list(range(10))


def test_ipfix_round_trip_and_mixed_capture(spark):
    """IPFIX messages decode through the same session map (version
    dispatch per packet): an IPFIX round trip preserves every field,
    and a frame mixing v9 and IPFIX packets from DIFFERENT exporters
    decodes both (observation domains stay isolated)."""
    from beats_spark.processors.netflow_v9 import encode_ipfix

    flows = _flows(spark, 30, n_exporters=2)
    v10 = encode_ipfix(flows, TEMPLATE)
    parsed = parse_netflow_v9(v10)
    rows = {r.first_uptime: r for r in parsed.collect()}
    assert len(rows) == 30
    r = rows[29]
    assert r.srcaddr == 29 * 3 + 1 and r.octets == 2900
    assert r.sys_uptime == 0  # IPFIX has no uptime clock
    assert r.unix_secs == 1700000000 + 5 and r.source_id == 7
    # mixed v9 + ipfix capture in ONE frame
    mixed = encode_netflow_v9(
        _flows(spark, 10, n_exporters=1), TEMPLATE).union(
        encode_ipfix(
            _flows(spark, 10, n_exporters=1)
            .withColumn("exporter", F.lit("udp://ipfix.exporter"))
            .withColumn("packet_id", F.col("packet_id") + 100)
            .withColumn("source_id", F.lit(9)),
            TEMPLATE))
    out = parse_netflow_v9(mixed)
    assert out.count() == 20
    assert out.filter(F.col("source_id") == 9).count() == 10


def test_ipfix_enterprise_and_varlen_fields(spark):
    """RFC 7011 §3.4.1: enterprise-bit fields carry a 4-byte PEN and
    decode as dead offsets (offsets after them stay right); a
    variable-length field makes the template un-compilable, so its
    data sets drop instead of mis-parsing."""
    import numpy as np
    from beats_spark.processors.netflow_v9 import IPFIX_HEADER_DT

    def msg(sets: bytes, odid=1):
        h = np.zeros(1, IPFIX_HEADER_DT)
        h["version"] = 10
        h["length"] = 16 + len(sets)
        h["observation_domain_id"] = odid
        return h.tobytes() + sets

    def tset(tid, fields_raw: bytes, nf):
        body = tid.to_bytes(2, "big") + nf.to_bytes(2, "big") + fields_raw
        return (2).to_bytes(2, "big") + (4 + len(body)).to_bytes(2, "big") + body

    # template 256: srcaddr(4) + enterprise field 0x8001/PEN 9/len 6 + srcport(2)
    f256 = ((8).to_bytes(2, "big") + (4).to_bytes(2, "big")
            + (0x8001).to_bytes(2, "big") + (6).to_bytes(2, "big")
            + (9).to_bytes(4, "big")
            + (7).to_bytes(2, "big") + (2).to_bytes(2, "big"))
    # template 257: one variable-length field
    f257 = (8).to_bytes(2, "big") + (65535).to_bytes(2, "big")
    rec = int(42).to_bytes(4, "big") + b"\xee" * 6 + int(8080).to_bytes(2, "big")
    d256 = (256).to_bytes(2, "big") + (4 + 12).to_bytes(2, "big") + rec
    d257 = (257).to_bytes(2, "big") + (8).to_bytes(2, "big") + b"\x00" * 4
    rows = [
        Row(exporter="e", recv_seq=1,
            packet=msg(tset(256, f256, 3) + tset(257, f257, 1))),
        Row(exporter="e", recv_seq=2, packet=msg(d256 + d257)),
    ]
    out = parse_netflow_v9(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    assert out[0].srcaddr == 42 and out[0].srcport == 8080


def test_v9_template_state_pickles_roundtrip():
    dt, known = compile_template(TEMPLATE)
    blob = pickle.dumps({(7, 256): (dt, known)})
    dt2, known2 = pickle.loads(blob)[(7, 256)]
    assert dt2 == dt and known2 == known
