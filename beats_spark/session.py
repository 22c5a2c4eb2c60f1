"""SparkSession factory with scale-appropriate defaults.

Local test mode is ``local[N]`` (single JVM); the same configs are what
we'd ship to a 1000-executor cluster via ``spark-submit --py-files``:
AQE on (runtime shuffle re-planning + skew-join splitting), Arrow on
(all Python-side work is pandas-UDF batched, never per-row), UTC
session timezone (deterministic vs the DuckDB oracle).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

JVM_PERF_FLAGS = "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g"


def get_spark(
    app_name: str = "beats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master=None`` defers to spark-submit / an existing session, so the
    same entry code runs unchanged on a real cluster. In-sandbox, tests
    pass ``local[N]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this
        # is overridden to ~2-3x total cores (AQE coalesces the excess).
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 128 MiB input splits: big enough to amortize task overhead at
        # 100 TB (≈800k tasks), small enough to fit executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # The fused parse→route→aggregate stage generates >8 KB bytecode
        # methods; HotSpot refuses to JIT those by default and the hot loop
        # runs interpreted (5-20x slower). Allow huge-method compilation and
        # give the code cache room for the large generated classes.
        .config("spark.driver.extraJavaOptions", JVM_PERF_FLAGS)
        .config("spark.executor.extraJavaOptions", JVM_PERF_FLAGS)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """A constant frame of driver-side ``rows`` that plans as a JVM
    ``LocalTableScan`` with exactly ``schema``.

    ``spark.createDataFrame(list)`` pickles the rows into a Python RDD
    (``Scan ExistingRDD``): every execution of a plan that reads it then
    starts Python worker tasks to unpickle them, even when the rest of
    the plan is all JVM (a broadcast dim is re-read by every run). Here
    the rows cross once, as one Arrow table, and the JVM keeps them as a
    ``LocalRelation``.

    ``rows`` are what ``createDataFrame`` takes (tuples, ``Row``s or
    dicts); ``schema`` is a ``StructType`` or a DDL string. Each row is
    checked and converted as ``createDataFrame(list)`` checks and
    converts it (``_make_type_verifier``, then ``StructType.toInternal``),
    so both give the same rows and reject the same ones. One Arrow
    limit: under pyarrow < 17 a null map whose values are nested comes
    back as an empty map (SPARK-48302).

    A ``LocalRelation`` also changes where work over it runs: Catalyst
    folds deterministic projections and filters stacked directly on it
    into a new ``LocalRelation`` on the driver, at optimization time.
    That suits dims and other small inputs; a caller whose rows feed
    heavy per-row work should ``repartition`` the frame first.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    verify = _make_type_verifier(schema)

    def internal(row):
        verify(row)
        return schema.toInternal(row)

    cols = list(zip(*map(internal, rows))) or [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
