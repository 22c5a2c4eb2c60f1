from __future__ import annotations

import contextlib
import logging
import time

import pytest

from beats_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("beats_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


def rows(df, *cols):
    """Sorted list-of-tuples helper for order-insensitive asserts."""
    sel = df.select(*cols) if cols else df
    return sorted(
        (tuple(r) for r in sel.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def drain(q, timeout: float = 120.0) -> None:
    """Stop streaming query ``q`` once it has run a batch with no new
    input: every earlier batch, all the input there was, is committed.

    For queries whose ``ProcessingTimeTimeout`` state keeps scheduling
    no-data batches: those never terminate under ``availableNow`` and
    never go idle, so neither ``awaitTermination`` nor
    ``processAllAvailable`` returns before its timeout."""
    deadline = time.monotonic() + timeout
    try:
        while q.isActive and time.monotonic() < deadline:
            p = q.lastProgress
            if p is not None and p["numInputRows"] == 0:
                return
            time.sleep(0.2)
        assert q.exception() is None
        raise AssertionError(f"no idle batch within {timeout} s")
    finally:
        q.stop()


@pytest.fixture(scope="session")
def registry_frames(spark, tmp_path_factory):
    """``{name: DataFrame}`` for every registry row that builds without
    the reference module checkout, built once at sf0.001 with the
    reference root pointed at a missing directory. Some rows do eager
    work at build time, so the tests that need every row share this."""
    import os

    import __spark_entry__ as entry
    from beats_spark import module_scripts

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(module_scripts, "REFERENCE_MODULE_ROOT",
                   str(tmp_path_factory.mktemp("no_reference") / "absent"))
        return {r.name: r.build(spark, sf_dir)
                for r in entry.REGISTRY if not entry.skip_reason(r)}


@contextlib.contextmanager
def error_records():
    """ERROR records from the root logger and PySpark's query-context
    loggers (which do not propagate)."""
    from pyspark.logger import PySparkLogger

    class Collect(logging.Handler):
        def __init__(self):
            super().__init__(logging.ERROR)
            self.records: list[logging.LogRecord] = []

        def emit(self, record):
            self.records.append(record)

    h = Collect()
    loggers = [logging.getLogger()] + [
        PySparkLogger.getLogger(n)
        for n in ("DataFrameQueryContextLogger", "SQLQueryContextLogger")
    ]
    for lg in loggers:
        lg.addHandler(h)
    try:
        yield h.records
    finally:
        for lg in loggers:
            lg.removeHandler(h)
