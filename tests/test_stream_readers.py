"""The replay-buffer protocol of the listen-side inputs (udp_lines,
udp_packets, unix_lines, http_endpoint): one base class owns it, and
its five behaviours hold without a socket or a Spark session."""

from __future__ import annotations

import ast
import pathlib
import pickle
import threading

import pytest

from beats_spark.streaming.sources import BufferedStreamReader

PKG = pathlib.Path(__file__).resolve().parents[1] / "beats_spark"
PROTOCOL = ("initialOffset", "read", "readBetweenOffsets", "commit",
            "__getstate__", "__setstate__")


def _reader_classes() -> dict[str, set[str]]:
    """Every class under beats_spark/ that descends from
    SimpleDataSourceStreamReader (by base-class name), mapped to the
    methods it defines itself."""
    bases: dict[str, list[str]] = {}
    methods: dict[str, set[str]] = {}
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef):
                key = f"{path.relative_to(PKG)}:{node.name}"
                bases[key] = [getattr(b, "id", getattr(b, "attr", ""))
                              for b in node.bases]
                methods[key] = {f.name for f in node.body
                                if isinstance(f, ast.FunctionDef)}
    names = {k.split(":")[1]: k for k in bases}
    readers: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, bs in bases.items():
            if key not in readers and any(
                b == "SimpleDataSourceStreamReader" or names.get(b) in readers
                for b in bs
            ):
                readers.add(key)
                grew = True
    return {k: methods[k] for k in readers}


def test_replay_protocol_is_defined_in_one_class():
    readers = _reader_classes()
    assert len(readers) >= 5  # the base + udp lines/packets, unix, http
    for meth in PROTOCOL:
        owners = sorted(k for k, ms in readers.items() if meth in ms)
        assert owners == ["streaming/sources.py:BufferedStreamReader"], meth


class _Probe(BufferedStreamReader):
    """A listen-side reader with no socket: ``_start`` counts its calls
    and returns an unpicklable stand-in for the live handle."""

    def __init__(self, options):
        super().__init__(options)
        self.label = options.get("label", "probe")
        self.starts = 0

    def _start(self):
        self.starts += 1
        return threading.Event()


def _vals(rows):
    return [r[0] for r in rows]


def test_buffer_push_read_cap_replay_commit_pickle():
    rd = _Probe({"maxBatchSize": "2", "label": "x"})
    assert rd.starts == 0 and rd._sock is None  # never binds at construction
    assert rd.initialOffset() == {"seq": 0}

    # push: each row gets the next recv_seq appended
    for v in "abcde":
        rd._push(v, "peer")
    assert list(rd._buf)[0] == ("a", "peer", 1)

    # read: capped at maxBatchSize, end offset = last served recv_seq;
    # the first read starts the listener, later reads do not
    rows, end = rd.read({"seq": 0})
    assert _vals(rows) == ["a", "b"] and end == {"seq": 2}
    rows, end = rd.read(end)
    assert _vals(rows) == ["c", "d"] and end == {"seq": 4}
    assert rd.starts == 1
    rows, end = rd.read({"seq": 5})
    assert list(rows) == [] and end == {"seq": 5}

    # replay: an uncommitted range is served again, exactly
    assert _vals(rd.readBetweenOffsets({"seq": 0}, {"seq": 4})) == list("abcd")
    assert _vals(rd.readBetweenOffsets({"seq": 1}, {"seq": 3})) == ["b", "c"]

    # commit: rows at or below the offset leave the buffer
    rd.commit({"seq": 2})
    assert [r[-1] for r in rd._buf] == [3, 4, 5]
    assert _vals(rd.readBetweenOffsets({"seq": 0}, {"seq": 4})) == ["c", "d"]

    # pickle: the copy carries options only, starts empty and unbound
    cp = pickle.loads(pickle.dumps(rd))
    assert (cp.max_batch, cp.label) == (2, "x")
    assert cp._sock is None and len(cp._buf) == 0
    assert list(cp.readBetweenOffsets({"seq": 0}, {"seq": 5})) == []
    assert cp._sock is None
    cp._push("z", "peer")  # a fresh, independent buffer and counter
    assert list(cp._buf) == [("z", "peer", 1)]
    assert [r[-1] for r in rd._buf] == [3, 4, 5]


def test_concurrent_push_while_reading_loses_nothing():
    """Listener threads (one per unix connection or HTTP request) push
    while the driver reads and commits: every row is served exactly
    once, under consecutive recv_seq, in push order per thread."""
    import sys

    n_threads, per_thread = 12, 1500
    rd = _Probe({"maxBatchSize": "97"})
    served: list[tuple] = []
    done = threading.Event()

    def drive():
        off = rd.initialOffset()
        while not done.is_set() or len(served) < n_threads * per_thread:
            rows, end = rd.read(off)
            rows = list(rows)
            assert list(rd.readBetweenOffsets(off, end)) == rows
            served.extend(rows)
            rd.commit(end)
            off = end

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        pushers = [threading.Thread(
            target=lambda t=t: [rd._push(i, t) for i in range(per_thread)],
            daemon=True) for t in range(n_threads)]
        reader = threading.Thread(target=drive, daemon=True)
        reader.start()
        for p in pushers:
            p.start()
        for p in pushers:
            p.join(60)
        done.set()
        reader.join(60)
        assert not reader.is_alive() and not any(p.is_alive() for p in pushers)
    finally:
        sys.setswitchinterval(old)

    assert [r[-1] for r in served] == list(range(1, n_threads * per_thread + 1))
    for t in range(n_threads):
        assert [r[0] for r in served if r[1] == t] == list(range(per_thread))
    assert len(rd._buf) == 0


@pytest.mark.parametrize("mod, cls, opts", [
    ("udp_source", "_UdpSimpleReader", {"port": "9"}),
    ("udp_source", "_UdpPacketReader", {"port": "9"}),
    ("unix_source", "_UnixSimpleReader", {"path": "/nonexistent.sock"}),
    ("http_source", "_HttpEndpointReader", {"port": "9", "url": "/hook"}),
])
def test_listen_readers_construct_and_pickle_unbound(mod, cls, opts):
    """Each real reader parses its options without binding, and a
    pickled copy keeps those options (no socket is ever opened here)."""
    import importlib

    reader = getattr(importlib.import_module(f"beats_spark.streaming.{mod}"), cls)
    rd = reader({**opts, "maxBatchSize": "7"})
    cp = pickle.loads(pickle.dumps(rd))
    assert rd._sock is None and cp._sock is None
    assert cp.max_batch == 7
    assert {k: v for k, v in vars(cp).items() if not k.startswith("_")} == \
        {k: v for k, v in vars(rd).items() if not k.startswith("_")}
