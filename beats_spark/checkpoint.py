"""Checkpoint / registrar: resumable offsets with per-partition lineage + metrics.

The reference persists per-file read state (``file.State{Source, Offset,
...}``, ``filebeat/input/file/state.go:28-42``) through the ACK path:
only offsets of events the output acknowledged reach the registrar
(``filebeat/beater/acker.go:37-60``, ``registrar/registrar.go:139,217-263``).

Batch-Spark translation:

- state key   = ``(source, part_id)``   (file → input partition)
- offset      = max committed ``offset`` within the key
- commit      = append to the checkpoint table AFTER the sink write of
  the same run succeeds (two steps, made safe by idempotent per-run_id
  sink overwrite — a re-run of an uncommitted run rewrites the same
  sink partitions, then commits)
- resume      = anti-filter: keep rows with ``offset > committed_offset``
  via a broadcast left join against the (tiny) checkpoint table
- lineage + metrics = events read/dropped/published per key, mirroring
  ``filebeat/input/log/harvester.go:60-66`` and
  ``publisher/pipeline/monitoring.go:86-97``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.session import local_frame

STATE_KEY = ("source", "part_id")

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("committed_offset", T.LongType()),
        T.StructField("events_read", T.LongType()),
        T.StructField("events_dropped", T.LongType()),
        T.StructField("events_published", T.LongType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def load_state(spark: SparkSession, path: str) -> DataFrame:
    """Current committed offset per (source, part_id); empty if no
    checkpoint exists yet.

    The checkpoint table is append-only, so the current state is the
    LATEST commit per key, not the largest offset: after a truncation
    the recovering run commits a SMALLER offset than its predecessor,
    and that smaller offset must supersede (the reference overwrites
    ``state.Offset`` in place, ``filebeat/registrar/registrar.go:217``).
    Taking ``max(committed_offset)`` here would resurrect the stale
    pre-truncation offset on every subsequent run — re-voiding the key
    and re-publishing the whole file once per run, forever. Ties on
    ``updated_at`` (same-instant commits) break toward the larger
    offset, which is the no-truncation fast path.

    A missing checkpoint is tested for through the Hadoop
    ``FileSystem``, so a first run never asks ``spark.read`` for a path
    that is not there (Spark logs that failure as an ERROR even when
    it is caught). The read takes ``CHECKPOINT_SCHEMA`` as given: a
    directory that holds no commit yet reads as empty.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return local_frame(spark, [], CHECKPOINT_SCHEMA).select(
            *STATE_KEY, "committed_offset"
        )
    cp = spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    return (
        cp.groupBy(*STATE_KEY)
        .agg(F.max(F.struct("updated_at", "committed_offset")).alias("_latest"))
        .select(*STATE_KEY, F.col("_latest.committed_offset").alias("committed_offset"))
    )


def resume_filter(
    df: DataFrame, state: DataFrame, detect_truncation: bool = True
) -> DataFrame:
    """Keep only rows past the committed offset of their partition.

    The state table has one row per (source, part_id) — thousands of
    rows even at 10^12 events — so this is a broadcast join; the fact
    side never shuffles and the offset predicate prunes immediately
    after the scan.

    ``detect_truncation`` mirrors the reference's registrar: when a
    file's size drops below the committed offset the harvester
    restarts from 0 ("Old file was truncated. Starting from the
    beginning", ``filebeat/input/log/input.go:565-578``; registrar
    system tests cover it). Batch form: a key whose CURRENT max offset
    is below its committed offset has shrunk — its committed state is
    voided so the whole key re-reads. This also catches inode reuse
    (``filebeat/tests/system/test_registrar.py``): a new file that
    inherits a deleted file's inode-device id resumes against the old
    state; when it is smaller it re-reads instead of silently losing
    its head. (A truncated file regrown PAST the old offset is
    undetectable for the reference too — both see only size vs
    offset.) Costs one map-side-combining max() over the scan — a
    ≤ one-row-per-key-per-partition shuffle, the batch analogue of the
    reference's per-file stat.
    """
    st = state.select(
        F.col("source").alias("_cp_source"),
        F.col("part_id").alias("_cp_part"),
        "committed_offset",
    )
    if detect_truncation:
        cur = df.groupBy("source", "part_id").agg(
            F.max("offset").alias("_cur_max")
        )
        st = (
            st.join(
                cur,
                (cur["source"] == st["_cp_source"])
                & (cur["part_id"] == st["_cp_part"]),
                "left",
            )
            .withColumn(
                "committed_offset",
                F.when(
                    F.col("_cur_max") < F.col("committed_offset"), F.lit(None)
                ).otherwise(F.col("committed_offset")),
            )
            .select("_cp_source", "_cp_part", "committed_offset")
        )
    return (
        df.join(
            F.broadcast(st),
            (df["source"] == st["_cp_source"]) & (df["part_id"] == st["_cp_part"]),
            "left",
        )
        .filter(F.col("committed_offset").isNull() | (F.col("offset") > F.col("committed_offset")))
        .drop("_cp_source", "_cp_part", "committed_offset")
    )


def partition_stats(
    read_df: DataFrame, published_df: DataFrame, run_id: str
) -> DataFrame:
    """Per-(source, part_id) lineage: events read, dropped, published,
    max offset — the harvester/registrar counter set."""
    read_stats = read_df.groupBy(*STATE_KEY).agg(
        F.count(F.lit(1)).alias("events_read"),
        F.max("offset").alias("committed_offset"),
    )
    pub_stats = published_df.groupBy(*STATE_KEY).agg(
        F.count(F.lit(1)).alias("events_published")
    )
    return (
        read_stats.join(pub_stats, list(STATE_KEY), "left")
        .withColumn("events_published", F.coalesce("events_published", F.lit(0)))
        .withColumn("events_dropped", F.col("events_read") - F.col("events_published"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("updated_at", F.current_timestamp())
        .select([f.name for f in CHECKPOINT_SCHEMA.fields])
    )


def commit(stats: DataFrame, path: str) -> None:
    """Append the run's offsets + metrics. Called only after the sink
    write of the same run succeeded (the ACK→registrar ordering)."""
    stats.write.mode("append").parquet(path)
