"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse → enrich → route → aggregate
pipeline at sf0.001. ``queries()`` exposes one entry per implemented
operator family (SURVEY.md §2 + the training-data ops), each verified
against the matching ``oracle_sql()`` DuckDB statement at sf0.01.

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL (the driver sorts columns by name
and hashes values).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beats_spark.corpus import entry_queries as cq

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship: the full log pipeline (harvest-line synth → dissect → enrich →
# drop → route → window aggregate).  SURVEY.md §3.1.
# ---------------------------------------------------------------------------

_FLAGSHIP_ROUTING = {
    "indices": [
        {"index": "errors-%{+yyyy.MM.dd}", "when": {"equals": {"level": "error"}}},
        # vip rule: format-string null (no customer match) falls through
        # to the next rule — the reference's fmt-error fall-through.
        {
            "index": "vip-%{[cust_c_mktsegment]}",
            "when": {
                "and": [
                    {"equals": {"event_type": "purchase"}},
                    {"range": {"value": {"gte": 300}}},
                ]
            },
        },
        {"index": "logs-%{[level]}"},
    ],
    "default": "logs-unknown",
}

_FLAGSHIP_TOKENIZER = 'level=%{level} user=%{uid|long} msg="%{msg}"'


def _flagship_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from beats_spark.dissect import dissect
    from beats_spark.pipeline import build_pipeline, normalize
    from beats_spark.processors.enrich import LookupJoin
    from beats_spark.routing import add_sink_column, sink_window_counts

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")

    # harvest stand-in: render each event as a raw log line
    level = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("value") >= 400, "warn")
        .otherwise("info")
    )
    raw = ev.withColumn(
        "message",
        F.concat(
            F.lit("level="), level,
            F.lit(" user="), F.col("user_id").cast("string"),
            F.lit(' msg="'), F.col("event_type"), F.lit(' evt"'),
        ),
    )

    chain = build_pipeline(
        [
            lambda df: dissect(df, _FLAGSHIP_TOKENIZER, target_prefix=""),
            {"add_fields": {"fields": {"env": "prod"}, "fields_under_root": True}},
            {"drop_event": {}, "when": {"equals": {"msg": "view evt"}}},
            LookupJoin(cust, on="user_id", dim_key="c_custkey",
                       prefix="cust_", fields=["c_mktsegment"]),
        ]
    )
    routed = add_sink_column(chain(normalize(raw)), _FLAGSHIP_ROUTING)
    agg = sink_window_counts(
        routed, window="1 hour", source_col="level", level_col="__absent"
    )
    return agg


_FLAGSHIP_ORACLE = """
WITH base AS (
  SELECT e.*,
         CASE WHEN event_type = 'error' THEN 'error'
              WHEN value >= 400 THEN 'warn'
              ELSE 'info' END AS level,
         c.c_mktsegment AS cust_c_mktsegment
  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
), kept AS (
  SELECT * FROM base WHERE event_type <> 'view'
), routed AS (
  SELECT *,
         CASE WHEN level = 'error' THEN 'errors-' || strftime(ts, '%Y.%m.%d')
              WHEN event_type = 'purchase' AND value >= 300
                   AND cust_c_mktsegment IS NOT NULL
                   THEN 'vip-' || cust_c_mktsegment
              WHEN level IS NOT NULL THEN 'logs-' || level
              ELSE 'logs-unknown' END AS sink
  FROM kept
)
SELECT sink, level, date_trunc('hour', ts) AS window_start,
       count(*) AS events
FROM routed GROUP BY 1, 2, 3
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship_impl(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# Per-operator queries (SURVEY.md §2) over the events table
# ---------------------------------------------------------------------------


def q_route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins selector (§2.7) → per-sink ACK counts (§2.8)."""
    from beats_spark.routing import add_sink_column, fanout_counts

    routing = {
        "indices": [
            {"index": "errors-%{+yyyy.MM.dd}", "when": {"equals": {"event_type": "error"}}},
            {"index": "hot-%{[event_type]}", "when": {"range": {"value": {"gte": 400}}}},
            {
                "index": "purchases",
                "when": {
                    "and": [
                        {"equals": {"event_type": "purchase"}},
                        {"range": {"value": {"gt": 100}}},
                    ]
                },
            },
        ],
        "default": "default-logs",
    }
    ev = _t(spark, sf_dir, "events")
    return fanout_counts(add_sink_column(ev, routing))


_Q_ROUTE_FANOUT_SQL = """
SELECT sink, count(*) AS events_acked FROM (
  SELECT CASE WHEN event_type = 'error' THEN 'errors-' || strftime(ts, '%Y.%m.%d')
              WHEN value >= 400 THEN 'hot-' || event_type
              WHEN event_type = 'purchase' AND value > 100 THEN 'purchases'
              ELSE 'default-logs' END AS sink
  FROM events
) GROUP BY sink
"""


def q_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissect tokenizer round-trip (§2.4): render → parse → typed cast."""
    from beats_spark.dissect import dissect

    ev = _t(spark, sf_dir, "events")
    raw = ev.withColumn(
        "message",
        F.concat(
            F.lit("type="), F.col("event_type"),
            F.lit(" user="), F.col("user_id").cast("string"),
            F.lit(' msg="evt payload"'),
        ),
    )
    out = dissect(raw, 'type=%{etype} user=%{uid|long} msg="%{msg}"', target_prefix="")
    return out.select("event_id", "etype", "uid", "msg")


_Q_DISSECT_SQL = """
SELECT event_id, event_type AS etype, user_id AS uid,
       'evt payload' AS msg
FROM events
"""


def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_json_fields with declared schema (§2.4)."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events")
    p = build_processor(
        {"decode_json_fields": {"fields": ["props"], "target": "pj", "schema": "k int"}}
    )
    return p(ev).select("event_id", F.col("pj.k").alias("k"))


_Q_JSON_DECODE_SQL = """
SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events
"""


def q_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition compiler (§2.5): or/and/not/equals/range/contains/regexp."""
    from beats_spark.conditions import compile_condition

    ev = _t(spark, sf_dir, "events")
    cond = {
        "or": [
            {
                "and": [
                    {"equals": {"event_type": "click"}},
                    {"range": {"value": {"gte": 50, "lt": 300}}},
                ]
            },
            {"contains": {"props": "9"}},
            {"not": {"regexp": {"event_type": "^(view|signup)$"}}},
        ]
    }
    return (
        ev.filter(compile_condition(cond, ev))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("survivors"))
    )


_Q_CONDITIONS_SQL = """
SELECT event_type, count(*) AS survivors FROM events
WHERE (event_type = 'click' AND value >= 50 AND value < 300)
   OR props LIKE '%9%'
   OR NOT regexp_matches(event_type, '^(view|signup)$')
GROUP BY event_type
"""


def q_include_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """include_lines before exclude_lines (§2.2) on the props payload."""
    from beats_spark.readers import include_exclude_lines

    ev = _t(spark, sf_dir, "events")
    out = include_exclude_lines(
        ev,
        include_lines=[r'k": [0-9]?[02468]\}'],
        exclude_lines=[r'k": 4'],
        line_col="props",
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("kept"))


_Q_INCLUDE_EXCLUDE_SQL = """
SELECT event_type, count(*) AS kept FROM events
WHERE regexp_matches(props, 'k": [0-9]?[02468]\\}')
  AND NOT regexp_matches(props, 'k": 4')
GROUP BY event_type
"""


def q_multiline_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline sessionization, pattern mode match=after (§2.1): click
    events append to the previous event within each user stream."""
    from beats_spark.multiline import multiline_pattern

    ev = _t(spark, sf_dir, "events")
    return multiline_pattern(
        ev,
        pattern="^click$",
        match="after",
        partition_cols=("user_id",),
        order_col="event_id",
        line_col="event_type",
    )


_Q_MULTILINE_PATTERN_SQL = """
WITH l AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         regexp_matches(event_type, '^click$') AS m
  FROM events
), g AS (
  SELECT *,
         sum(CASE WHEN (NOT m) OR rn = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM l
)
SELECT user_id, min(event_id) AS event_id,
       string_agg(event_type, chr(10) ORDER BY event_id) AS event_type,
       count(*) AS n_lines
FROM g GROUP BY user_id, grp
"""


def q_multiline_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline count mode (§2.1): merge every 5 events per user."""
    from beats_spark.multiline import multiline_count

    ev = _t(spark, sf_dir, "events")
    return multiline_count(
        ev,
        lines_count=5,
        partition_cols=("user_id",),
        order_col="event_id",
        line_col="event_type",
    )


_Q_MULTILINE_COUNT_SQL = """
WITH l AS (
  SELECT user_id, event_id, event_type,
         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 5 AS grp
  FROM events
)
SELECT user_id, min(event_id) AS event_id,
       string_agg(event_type, chr(10) ORDER BY event_id) AS event_type,
       count(*) AS n_lines
FROM l GROUP BY user_id, grp
"""


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate_limit as windowed top-k (§2.2): ≤2 events/hour per type."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events")
    p = build_processor(
        {"rate_limit": {"limit": "2/h", "fields": ["event_type"], "order_col": "event_id"}}
    )
    return p(ev).select("event_id")


_Q_RATE_LIMIT_SQL = """
SELECT event_id FROM events
QUALIFY row_number() OVER (
  PARTITION BY event_type, date_trunc('hour', ts) ORDER BY event_id) <= 2
"""


def q_rate_limit_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe two-phase salted variant (beats_spark.skew) —
    EXACTLY the same rows as q_rate_limit, proven against the same
    oracle: per-(key, salt-bucket) top-k superset, then the true
    per-key rank on the ≤ B·k survivors. The hot-source window never
    lands in one task."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events")
    p = build_processor(
        {"rate_limit": {"limit": "2/h", "fields": ["event_type"],
                        "order_col": "event_id", "salt_buckets": 8}}
    )
    return p(ev).select("event_id")


def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time token bucket (§2.2) — the reference's ACTUAL
    rate_limit algorithm (token_bucket.go: continuous refill, burst
    depth, withdraw-one) with event time as the clock. Sequential per
    key by definition; parallel across the 100 key buckets. The oracle
    replays the identical recurrence as a DuckDB WITH RECURSIVE in the
    same double-precision-microseconds arithmetic."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events").withColumn(
        "rl_key", F.pmod("user_id", F.lit(5))
    )
    p = build_processor(
        {"rate_limit": {"limit": "2/h", "fields": ["rl_key"],
                        "order_col": "event_id",
                        "algorithm": "token_bucket"}}
    )
    return p(ev).select("event_id", "rl_key")


# depth = 2 tokens/h x 1.0 burst = 2.0; rate = 2/3.6e9 tokens per us
# (median inter-event gap per key is ~900 s at this key granularity, so
# the bucket genuinely denies a large fraction — not a pass-through).
# Same expression order as token_bucket._run_bucket so doubles match
# bit-for-bit: replenish = least(depth, tokens + delta_ms * rate),
# allow iff >= 1, withdraw 1.
_Q_TOKEN_BUCKET_SQL = """
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id % 5 AS rl_key, epoch_us(ts)::DOUBLE AS tms,
         row_number() OVER (PARTITION BY user_id % 5
                            ORDER BY ts, event_id) AS rn
  FROM events
), tb AS (
  -- tokens_after MUST be typed DOUBLE: a bare 2.0-1.0 seed is
  -- DECIMAL(2,1) and the recursive UNION ALL would round every
  -- iteration's token balance to one decimal place
  SELECT rl_key, event_id, rn, tms,
         TRUE AS allowed,
         CAST(2.0 AS DOUBLE) - 1.0 AS tokens_after,
         tms AS last
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.rl_key, o.event_id, o.rn, o.tms,
         least(2.0, t.tokens_after + (o.tms - t.last) * (2 / 3600000000.0)) >= 1.0,
         least(2.0, t.tokens_after + (o.tms - t.last) * (2 / 3600000000.0))
           - CASE WHEN least(2.0, t.tokens_after + (o.tms - t.last) * (2 / 3600000000.0)) >= 1.0
                  THEN 1.0 ELSE 0.0 END,
         o.tms
  FROM ordered o JOIN tb t ON o.rl_key = t.rl_key AND o.rn = t.rn + 1
)
SELECT event_id, rl_key FROM tb WHERE allowed
"""


def q_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup enrichment (§2.6): two chained dim joins
    (customer → nation), the add_host_metadata/translate shape."""
    from beats_spark.processors.enrich import LookupJoin, Translate

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    step1 = LookupJoin(cust, on="user_id", dim_key="c_custkey",
                       prefix="cust_", fields=["c_name", "c_nationkey"])
    step2 = Translate(nation, field="cust_c_nationkey", dim_key="n_nationkey",
                      target="nation_name", dim_value="n_name")
    out = step2(step1(ev))
    return out.select(
        "event_id",
        F.col("cust_c_name").alias("cust_name"),
        "nation_name",
    )


_Q_ENRICH_LOOKUP_SQL = """
SELECT e.event_id, c.c_name AS cust_name, n.n_name AS nation_name
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(sink, hour) value percentiles (§2.8 observability rollup):
    exact interpolated percentile — bit-identical to ANSI
    quantile_cont, probed cross-engine. percentile_approx is the
    10^12-row variant (pytest sanity-bounds it against exact)."""
    from beats_spark.routing import add_sink_column, sink_window_percentiles

    routing = {
        "indices": [
            {"index": "errors", "when": {"equals": {"event_type": "error"}}},
        ],
        "default": "main",
    }
    ev = _t(spark, sf_dir, "events")
    out = sink_window_percentiles(add_sink_column(ev, routing))
    return out.select("sink", "window_start", "events", "p50", "p95", "p99")


_Q_WINDOW_PERCENTILES_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'errors' ELSE 'main' END AS sink,
       date_trunc('hour', ts) AS window_start,
       count(*)::BIGINT AS events,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session assignment (log-analytics step downstream of
    the pipeline): per-user session ordinals with a 30-minute silence
    boundary — lag + running boundary sum, ONE shuffle on the key."""
    from beats_spark.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, ["user_id"], gap="30 minutes",
                     order_col="event_id")
    return out.select("event_id", "user_id",
                      F.col("session_no").cast("long").alias("session_no"))


_Q_SESSIONIZE_SQL = """
WITH x AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), y AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM x
)
SELECT event_id, user_id,
       (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_no
FROM y
"""


def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session summaries via Spark's NATIVE session_window aggregate
    (the stateful streaming operator, run as a batch plan): start/end =
    min/max event time so the result is engine-comparable."""
    from beats_spark.sessions import session_agg

    ev = _t(spark, sf_dir, "events")
    return session_agg(ev, ["user_id"], gap="30 minutes").select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


_Q_SESSION_AGG_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM x
), z AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM y
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events
FROM z GROUP BY user_id, session_no
"""


def _q_enrich_asof(mode: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        """As-of (time-versioned) enrichment: each event joins the dim
        version in force AT ITS OWN TIMESTAMP — the batch-replay-correct
        form of the reference's refreshing metadata caches
        (add_host_metadata.go:83-100). The dim is a deterministic slice
        of the event stream itself (every 199th event publishes a config
        snapshot for its host bucket), so seed events exercise the
        ``valid_from == ts`` inclusive edge exactly."""
        from beats_spark.processors.enrich import asof_enrich

        ev = _t(spark, sf_dir, "events").withColumn(
            "host_key", F.pmod("user_id", F.lit(50))
        )
        dim = ev.filter(F.pmod("event_id", F.lit(199)) == 0).select(
            F.col("host_key"),
            F.col("ts").alias("valid_from"),
            F.col("event_id").alias("cfg_version"),
            F.col("event_type").alias("cfg_label"),
        )
        out = asof_enrich(ev, dim, on="host_key", mode=mode)
        return out.select("event_id", "host_key", "cfg_version", "cfg_label")

    return q


q_enrich_asof = _q_enrich_asof("broadcast")
q_enrich_asof_merge = _q_enrich_asof("merge")


_Q_ENRICH_ASOF_SQL = """
WITH dim AS (
  SELECT user_id % 50 AS host_key, ts AS valid_from,
         event_id AS cfg_version, event_type AS cfg_label
  FROM events WHERE event_id % 199 = 0
)
SELECT e.event_id, e.user_id % 50 AS host_key, d.cfg_version, d.cfg_label
FROM events e ASOF LEFT JOIN dim d
  ON (e.user_id % 50) = d.host_key AND e.ts >= d.valid_from
"""


def q_dns_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dns processor (§2.6): pre-resolved dim lookup with ``replace``
    action (miss keeps the original value) and ``tag_on_failure``."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events").withColumn(
        "host_key", F.pmod("user_id", F.lit(40)).cast("string")
    )
    dim = _t(spark, sf_dir, "nation")  # 25 rows → keys 25..39 miss
    p = build_processor(
        {"dns": {"dim": dim, "field": "host_key", "target": "host_name",
                 "action": "replace", "tag_on_failure": ["dns_failed"],
                 "dim_key": "n_nationkey", "dim_value": "n_name"}}
    )
    out = p(ev)
    return out.select(
        "event_id",
        F.col("host_name").cast("string").alias("host_name"),
        F.array_join("tags", ",").alias("tags_csv"),
    )


_Q_DNS_ENRICH_SQL = """
SELECT e.event_id,
       COALESCE(n.n_name, CAST(e.user_id % 40 AS VARCHAR)) AS host_name,
       CASE WHEN n.n_name IS NULL THEN 'dns_failed' ELSE '' END AS tags_csv
FROM events e
LEFT JOIN nation n ON (e.user_id % 40) = n.n_nationkey
"""


def q_netflow_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow v5 codec (§2.1, x-pack netflow input's fixed-template
    member): flow fields derived from ``events`` are packed into real
    24+48-byte big-endian wire packets (≤30 records each), then parsed
    back by the production decoder. The oracle computes the same
    fields directly in SQL — a hash match certifies
    ``parse ∘ encode = identity`` on every field of every record."""
    from beats_spark.processors.netflow import (
        encode_netflow_v5,
        ipv4_str,
        parse_netflow_v5,
    )

    ev = _t(spark, sf_dir, "events").select("event_id")

    def h(seed: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"),
                               F.lit(seed))), 1, 8),
            16, 10,
        ).cast("long")

    pid = F.floor(F.col("event_id") / 30).cast("long")
    flows = ev.select(
        pid.alias("packet_id"),
        (F.col("event_id") % 30).alias("rec_idx"),
        F.concat(F.lit("udp://10.0.0."),
                 (pid % 8).cast("string")).alias("exporter"),
        ((pid * 1000) % 4294967296).alias("sys_uptime"),
        (F.lit(1700000000) + pid).alias("unix_secs"),
        F.lit(0).alias("unix_nsecs"),
        (pid * 30).alias("flow_sequence"),
        F.lit(1).alias("engine_type"),
        F.lit(2).alias("engine_id"),
        F.lit(0).alias("sampling_interval"),
        h("s").alias("srcaddr"),
        h("d").alias("dstaddr"),
        h("n").alias("nexthop"),
        (h("i") % 1024).alias("input_if"),
        (h("o") % 1024).alias("output_if"),
        (F.lit(1) + h("p") % 100000).alias("packets"),
        (F.lit(64) + h("b") % 10000000).alias("octets"),
        F.col("event_id").alias("first_uptime"),  # join-back key
        h("l").alias("last_uptime"),
        (h("sp") % 65536).alias("srcport"),
        (h("dp") % 65536).alias("dstport"),
        (h("tf") % 256).alias("tcp_flags"),
        F.when(h("pr") % 3 == 0, 6)
        .when(h("pr") % 3 == 1, 17)
        .otherwise(1).alias("prot"),
        (h("t") % 256).alias("tos"),
        (h("sa") % 65536).alias("src_as"),
        (h("da") % 65536).alias("dst_as"),
        (h("sm") % 33).alias("src_mask"),
        (h("dm") % 33).alias("dst_mask"),
    )
    parsed = parse_netflow_v5(encode_netflow_v5(flows))
    return parsed.select(
        F.col("first_uptime").alias("event_id"),
        "exporter",
        F.col("rec_idx").cast("long").alias("rec_pos"),
        "flow_sequence", "unix_secs", "sys_uptime",
        ipv4_str("srcaddr").alias("src_ip"),
        ipv4_str("dstaddr").alias("dst_ip"),
        ipv4_str("nexthop").alias("nexthop_ip"),
        "input_if", "output_if", "packets", "octets", "last_uptime",
        "srcport", "dstport", "tcp_flags", "prot", "tos",
        "src_as", "dst_as", "src_mask", "dst_mask",
    )


def _netflow_oracle_sql() -> str:
    from beats_spark.processors.netflow import IPV4_STR_SQL

    h = ("(('0x' || substr(md5(event_id::VARCHAR || '{s}'), 1, 8))"
         "::BIGINT)")

    def H(seed: str) -> str:
        return h.format(s=seed)

    return f"""
WITH f AS (
  SELECT event_id,
         event_id // 30 AS pid,
         {H('s')} AS srcaddr, {H('d')} AS dstaddr, {H('n')} AS nexthop,
         {H('i')} % 1024 AS input_if, {H('o')} % 1024 AS output_if,
         1 + {H('p')} % 100000 AS packets,
         64 + {H('b')} % 10000000 AS octets,
         {H('l')} AS last_uptime,
         {H('sp')} % 65536 AS srcport, {H('dp')} % 65536 AS dstport,
         {H('tf')} % 256 AS tcp_flags,
         CASE WHEN {H('pr')} % 3 = 0 THEN 6
              WHEN {H('pr')} % 3 = 1 THEN 17 ELSE 1 END AS prot,
         {H('t')} % 256 AS tos,
         {H('sa')} % 65536 AS src_as, {H('da')} % 65536 AS dst_as,
         {H('sm')} % 33 AS src_mask, {H('dm')} % 33 AS dst_mask
  FROM events
)
SELECT event_id,
       'udp://10.0.0.' || (pid % 8) AS exporter,
       ROW_NUMBER() OVER (PARTITION BY pid ORDER BY event_id % 30) - 1
         AS rec_pos,
       pid * 30 AS flow_sequence,
       1700000000 + pid AS unix_secs,
       (pid * 1000) % 4294967296 AS sys_uptime,
       {IPV4_STR_SQL('srcaddr')} AS src_ip,
       {IPV4_STR_SQL('dstaddr')} AS dst_ip,
       {IPV4_STR_SQL('nexthop')} AS nexthop_ip,
       input_if, output_if, packets, octets, last_uptime,
       srcport, dstport, tcp_flags, prot, tos,
       src_as, dst_as, src_mask, dst_mask
FROM f
"""


#: v9 driver-query template: 18 fields at conventional widths,
#: 45-byte record → exercises the 4-byte flowset padding too.
_V9_TEMPLATE = [(8, 4), (12, 4), (15, 4), (10, 2), (14, 2), (2, 4),
                (1, 4), (22, 4), (21, 4), (7, 2), (11, 2), (6, 1),
                (4, 1), (5, 1), (16, 2), (17, 2), (9, 1), (13, 1)]


def _v9_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared flow derivation for the v9 and IPFIX round-trip
    queries: 25 records/packet, 8 exporters, template only in each
    exporter's first packet (``send_template`` = pid < 8)."""
    ev = _t(spark, sf_dir, "events").select("event_id")

    def h(seed: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"),
                               F.lit(seed))), 1, 8),
            16, 10,
        ).cast("long")

    pid = F.floor(F.col("event_id") / 25).cast("long")
    return ev.select(
        pid.alias("packet_id"),
        (F.col("event_id") % 25).alias("rec_idx"),
        F.concat(F.lit("udp://10.0.9."),
                 (pid % 8).cast("string")).alias("exporter"),
        (pid < 8).alias("send_template"),
        (pid % 8).alias("source_id"),
        (pid * 11).alias("package_sequence"),
        (F.lit(1700000000) + pid).alias("unix_secs"),
        ((pid * 1000) % 4294967296).alias("sys_uptime"),
        h("s").alias("srcaddr"),
        h("d").alias("dstaddr"),
        h("n").alias("nexthop"),
        (h("i") % 1024).alias("input_if"),
        (h("o") % 1024).alias("output_if"),
        (F.lit(1) + h("p") % 100000).alias("packets"),
        (F.lit(64) + h("b") % 10000000).alias("octets"),
        F.col("event_id").alias("first_uptime"),  # join-back key
        h("l").alias("last_uptime"),
        (h("sp") % 65536).alias("srcport"),
        (h("dp") % 65536).alias("dstport"),
        (h("tf") % 256).alias("tcp_flags"),
        F.when(h("pr") % 3 == 0, 6)
        .when(h("pr") % 3 == 1, 17)
        .otherwise(1).alias("prot"),
        (h("t") % 256).alias("tos"),
        (h("sa") % 65536).alias("src_as"),
        (h("da") % 65536).alias("dst_as"),
        (h("sm") % 33).alias("src_mask"),
        (h("dm") % 33).alias("dst_mask"),
    )


def q_netflow_v9_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow v9 TEMPLATED codec (§2.1; reference
    x-pack/filebeat/input/netflow/decoder/v9/v9.go + session.go):
    the template flowset is announced ONLY in each exporter's first
    packet — every later packet is data-only and undecodable without
    the per-(exporter, source_id) session state, so a hash match
    certifies template parsing, state carry-over AND field layout
    (offsets, widths, big-endian) on every record."""
    from beats_spark.processors.netflow import ipv4_str
    from beats_spark.processors.netflow_v9 import (
        encode_netflow_v9,
        parse_netflow_v9,
    )

    flows = _v9_flows(spark, sf_dir)
    parsed = parse_netflow_v9(encode_netflow_v9(flows, _V9_TEMPLATE))
    return parsed.select(
        F.col("first_uptime").alias("event_id"),
        "exporter",
        F.col("rec_idx").cast("long").alias("rec_pos"),
        "template_id", "source_id", "package_sequence",
        "unix_secs", "sys_uptime",
        ipv4_str("srcaddr").alias("src_ip"),
        ipv4_str("dstaddr").alias("dst_ip"),
        ipv4_str("nexthop").alias("nexthop_ip"),
        "input_if", "output_if", "packets", "octets", "last_uptime",
        "srcport", "dstport", "tcp_flags", "prot", "tos",
        "src_as", "dst_as", "src_mask", "dst_mask",
    )


def q_ipfix_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPFIX / v10 codec (§2.1; reference decoder/ipfix/ipfix.go,
    RFC 7011): the v9 round-trip re-run through the IPFIX message
    framing — 16-byte header, byte-length bound, template set id 2,
    observation-domain session key. Same cross-packet template
    dependency (announced only in each exporter's first message)."""
    from beats_spark.processors.netflow import ipv4_str
    from beats_spark.processors.netflow_v9 import (
        encode_ipfix,
        parse_ipfix,
    )

    flows = _v9_flows(spark, sf_dir)
    parsed = parse_ipfix(encode_ipfix(flows, _V9_TEMPLATE))
    return parsed.select(
        F.col("first_uptime").alias("event_id"),
        "exporter",
        F.col("rec_idx").cast("long").alias("rec_pos"),
        "template_id", "source_id", "package_sequence",
        "unix_secs", "sys_uptime",
        ipv4_str("srcaddr").alias("src_ip"),
        ipv4_str("dstaddr").alias("dst_ip"),
        ipv4_str("nexthop").alias("nexthop_ip"),
        "input_if", "output_if", "packets", "octets", "last_uptime",
        "srcport", "dstport", "tcp_flags", "prot", "tos",
        "src_as", "dst_as", "src_mask", "dst_mask",
    )


def _netflow_v9_oracle_sql(ipfix: bool = False) -> str:
    from beats_spark.processors.netflow import IPV4_STR_SQL

    h = ("(('0x' || substr(md5(event_id::VARCHAR || '{s}'), 1, 8))"
         "::BIGINT)")

    def H(seed: str) -> str:
        return h.format(s=seed)

    return f"""
WITH f AS (
  SELECT event_id,
         event_id // 25 AS pid,
         {H('s')} AS srcaddr, {H('d')} AS dstaddr, {H('n')} AS nexthop,
         {H('i')} % 1024 AS input_if, {H('o')} % 1024 AS output_if,
         1 + {H('p')} % 100000 AS packets,
         64 + {H('b')} % 10000000 AS octets,
         {H('l')} AS last_uptime,
         {H('sp')} % 65536 AS srcport, {H('dp')} % 65536 AS dstport,
         {H('tf')} % 256 AS tcp_flags,
         CASE WHEN {H('pr')} % 3 = 0 THEN 6
              WHEN {H('pr')} % 3 = 1 THEN 17 ELSE 1 END AS prot,
         {H('t')} % 256 AS tos,
         {H('sa')} % 65536 AS src_as, {H('da')} % 65536 AS dst_as,
         {H('sm')} % 33 AS src_mask, {H('dm')} % 33 AS dst_mask
  FROM events
)
SELECT event_id,
       'udp://10.0.9.' || (pid % 8) AS exporter,
       ROW_NUMBER() OVER (PARTITION BY pid ORDER BY event_id % 25) - 1
         AS rec_pos,
       256 AS template_id,
       pid % 8 AS source_id,
       pid * 11 AS package_sequence,
       1700000000 + pid AS unix_secs,
       {'0' if ipfix else '(pid * 1000) % 4294967296'} AS sys_uptime,
       {IPV4_STR_SQL('srcaddr')} AS src_ip,
       {IPV4_STR_SQL('dstaddr')} AS dst_ip,
       {IPV4_STR_SQL('nexthop')} AS nexthop_ip,
       input_if, output_if, packets, octets, last_uptime,
       srcport, dstport, tcp_flags, prot, tos,
       src_as, dst_as, src_mask, dst_mask
FROM f
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fingerprint processor (§2.3): sha256 + md5 over joined fields."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events")
    p1 = build_processor(
        {"fingerprint": {"fields": ["event_type", "user_id"], "method": "sha256",
                         "target_field": "fp_sha"}}
    )
    p2 = build_processor(
        {"fingerprint": {"fields": ["event_type", "user_id"], "method": "md5",
                         "target_field": "fp_md5"}}
    )
    return p2(p1(ev)).select("event_id", "fp_sha", "fp_md5")


_Q_FINGERPRINT_SQL = """
SELECT event_id,
       sha256(event_type || '|' || user_id) AS fp_sha,
       md5(event_type || '|' || user_id) AS fp_md5
FROM events
"""


def q_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection chain (§2.3): add_fields/add_tags/replace/extract_field/
    rename/copy_fields/drop_fields with a when-guard, via build_pipeline."""
    from beats_spark.pipeline import build_pipeline

    ev = _t(spark, sf_dir, "events")
    chain = build_pipeline(
        [
            {"add_fields": {"fields": {"env": "prod", "dc": "us-east-1"},
                            "fields_under_root": True}},
            {"add_tags": {"tags": ["beta", "prod"]}},
            {"add_tags": {"tags": ["prod", "x"]}},
            {"add_fields": {"fields": {"hot": "yes"}, "fields_under_root": True},
             "when": {"range": {"value": {"gte": 250}}}},
            {"replace": {"fields": [{"field": "event_type", "pattern": "click",
                                     "replacement": "tap"}]}},
            {"extract_field": {"field": "props", "separator": ":", "index": 1,
                               "target": "k_raw"}},
            {"copy_fields": {"fields": [{"from": "user_id", "to": "uid_copy"}]}},
            {"rename": {"fields": [{"from": "dc", "to": "datacenter"}]}},
            {"drop_fields": {"fields": ["props", "value"]}},
        ]
    )
    out = chain(ev)
    return out.select(
        "event_id", "env", "datacenter", "hot", "event_type", "k_raw", "uid_copy",
        F.array_join("tags", ",").alias("tags_csv"),
    )


_Q_MUTATIONS_SQL = """
SELECT event_id, 'prod' AS env, 'us-east-1' AS datacenter,
       CASE WHEN value >= 250 THEN 'yes' END AS hot,
       replace(event_type, 'click', 'tap') AS event_type,
       string_split(props, ':')[2] AS k_raw,
       user_id AS uid_copy,
       'beta,prod,x' AS tags_csv
FROM events
"""


def q_codec_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-ish mutations (§2.3): base64 round-trip, urldecode, truncate."""
    from beats_spark.pipeline import build_pipeline

    ev = _t(spark, sf_dir, "events")
    prepped = ev.withColumns(
        {
            "b64": F.base64(F.col("event_type").cast("binary")),
            "enc": F.concat(F.lit("u%20"), F.col("user_id").cast("string")),
        }
    )
    chain = build_pipeline(
        [
            {"decode_base64_field": {"field": {"from": "b64", "to": "b64_dec"}}},
            {"urldecode": {"fields": [{"from": "enc", "to": "dec"}]}},
            {"truncate_fields": {"fields": ["props"], "max_characters": 5}},
        ]
    )
    return chain(prepped).select("event_id", "b64_dec", "dec",
                                 F.col("props").alias("props_cut"))


_Q_CODEC_FIELDS_SQL = """
SELECT event_id, event_type AS b64_dec,
       'u ' || user_id AS dec,
       substr(props, 1, 5) AS props_cut
FROM events
"""


def q_convert_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert + timestamp processors (§2.3): typed casts and layout parse."""
    from beats_spark.pipeline import build_pipeline

    ev = _t(spark, sf_dir, "events")
    prepped = ev.withColumn("ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    chain = build_pipeline(
        [
            {"convert": {"fields": [
                {"from": "user_id", "to": "uid_str", "type": "string"},
                {"from": "event_id", "to": "eid_int", "type": "integer"},
            ]}},
            {"timestamp": {"field": "ts_str", "layouts": ["yyyy-MM-dd HH:mm:ss"],
                           "target": "parsed_ts"}},
        ]
    )
    return chain(prepped).select("event_id", "uid_str", "eid_int", "parsed_ts")


_Q_CONVERT_TIMESTAMP_SQL = """
SELECT event_id, CAST(user_id AS VARCHAR) AS uid_str,
       CAST(event_id AS INT) AS eid_int,
       date_trunc('second', ts) AS parsed_ts
FROM events
"""


def q_network_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR classification (§2.3/2.5): add_network_direction over
    deterministically constructed IPs — pure bitmask expressions."""
    from beats_spark.processors.base import build_processor

    ev = _t(spark, sf_dir, "events")
    u = F.col("user_id")
    e = F.col("event_id")

    def mk_ip(sel):
        return (
            F.when(sel % 4 == 0, F.concat(F.lit("10."), (sel % 250).cast("string"), F.lit(".1.2")))
            .when(sel % 4 == 1, F.concat(F.lit("172.16."), (sel % 16).cast("string"), F.lit(".9")))
            .when(sel % 4 == 2, F.concat(F.lit("192.168.1."), (sel % 250).cast("string")))
            .otherwise(F.concat(F.lit("8.8."), (sel % 250).cast("string"), F.lit(".8")))
        )

    prepped = ev.withColumns({"src_ip": mk_ip(u), "dst_ip": mk_ip(e)})
    p = build_processor(
        {"add_network_direction": {"source": "src_ip", "destination": "dst_ip",
                                   "target": "direction"}}
    )
    return p(prepped).groupBy("direction").agg(F.count(F.lit(1)).alias("flows"))


_Q_NETWORK_DIRECTION_SQL = """
WITH f AS (
  SELECT (user_id % 4) < 3 AS src_int, (event_id % 4) < 3 AS dst_int
  FROM events
)
SELECT CASE WHEN src_int AND dst_int THEN 'internal'
            WHEN src_int THEN 'outbound'
            WHEN dst_int THEN 'inbound'
            ELSE 'external' END AS direction,
       count(*) AS flows
FROM f GROUP BY 1
"""


def q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-3164 syslog parse (§2.1/2.4): render events as syslog lines
    → one-regex parse → priority/severity/facility + labels, host,
    program[pid], timestamp (year supplied), message."""
    from beats_spark.processors.syslog import syslog_rfc3164

    ev = _t(spark, sf_dir, "events")
    pri = F.pmod("user_id", F.lit(191))
    line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"),
        F.date_format("ts", "MMM d HH:mm:ss"),
        F.lit(" h"), F.pmod("user_id", F.lit(5)).cast("string"),
        F.lit(" app"), F.lit("["), F.pmod("event_id", F.lit(10000)).cast("string"),
        F.lit("]: action="), F.col("event_type"),
    )
    # testdata events live in 2024; RFC-3164 lines carry no year, so
    # the parser is told which one to assume (input.go applies the
    # host clock year the same way)
    out = syslog_rfc3164(ev.withColumn("message", line), assume_year=2024)
    return out.select(
        "event_id", "syslog_priority", "event_severity", "syslog_severity_label",
        "syslog_facility", "syslog_facility_label", "syslog_ts", "hostname",
        "process_program", "process_pid", "syslog_message",
    )


def _syslog_parse_sql() -> str:
    from beats_spark.processors.syslog import FACILITY_LABELS, SEVERITY_LABELS

    sev_list = ", ".join(f"'{x}'" for x in SEVERITY_LABELS)
    fac_list = ", ".join(f"'{x}'" for x in FACILITY_LABELS)
    return f"""
SELECT event_id,
       (user_id % 191)::INT AS syslog_priority,
       ((user_id % 191) % 8)::INT AS event_severity,
       ([{sev_list}])[((user_id % 191) % 8)::INT + 1] AS syslog_severity_label,
       ((user_id % 191) // 8)::INT AS syslog_facility,
       ([{fac_list}])[((user_id % 191) // 8)::INT + 1] AS syslog_facility_label,
       date_trunc('second', ts) AS syslog_ts,
       'h' || (user_id % 5) AS hostname,
       'app' AS process_program,
       (event_id % 10000)::INT AS process_pid,
       'action=' || event_type AS syslog_message
FROM events
"""


def q_journald_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """journald input (§2.1): events rendered as ``journalctl -o json``
    export lines (all values strings, __REALTIME_TIMESTAMP in decimal
    microseconds) → one from_json parse through the reference's field
    conversion table → include_matches filter (same-field OR semantics
    keeps priorities 0-5, unit filter ANDs)."""
    from beats_spark.journald import journald_matches, journald_reader

    ev = _t(spark, sf_dir, "events")
    line = F.to_json(
        F.struct(
            F.concat(F.lit("cur-"), F.col("event_id").cast("string")).alias("__CURSOR"),
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string")
            .alias("__REALTIME_TIMESTAMP"),
            F.concat(F.lit("action="), F.col("event_type")).alias("MESSAGE"),
            F.pmod("user_id", F.lit(8)).cast("string").alias("PRIORITY"),
            F.concat(F.lit("unit-"), F.pmod("user_id", F.lit(3)).cast("string"),
                     F.lit(".service")).alias("_SYSTEMD_UNIT"),
            F.concat(F.lit("h"), F.pmod("user_id", F.lit(5)).cast("string")).alias("_HOSTNAME"),
            F.pmod("event_id", F.lit(65536)).cast("string").alias("_PID"),
        )
    )
    parsed = journald_reader(ev.withColumn("message", line))
    kept = journald_matches(
        parsed,
        [f"PRIORITY={p}" for p in range(6)] + ["_SYSTEMD_UNIT=unit-1.service"],
    )
    return kept.select(
        "event_id", "cursor",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "message", "syslog_priority",
        "systemd_unit", "host_hostname", "journald_pid",
    )


_Q_JOURNALD_PARSE_SQL = """
SELECT event_id,
       'cur-' || event_id AS cursor,
       ts,
       'action=' || event_type AS message,
       (user_id % 8)::INT AS syslog_priority,
       'unit-' || (user_id % 3) || '.service' AS systemd_unit,
       'h' || (user_id % 5) AS host_hostname,
       (event_id % 65536)::INT AS journald_pid
FROM events
WHERE user_id % 8 < 6 AND user_id % 3 = 1
"""


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok pattern parse (§2.4 / north-rule parse stage): render events
    as Apache common-log lines → one-regex %{COMMONAPACHELOG} parse →
    typed fields (long response/bytes, '-' bytes → null, timestamp
    re-parsed). Single regexp evaluation per row, JVM-side."""
    from beats_spark.processors.grok import grok

    ev = _t(spark, sf_dir, "events")
    status = (F.lit(200) + F.pmod("event_id", F.lit(4)) * 100).cast("string")
    nbytes = F.when(F.pmod("event_id", F.lit(10)) == 0, F.lit("-")).otherwise(
        F.pmod("user_id", F.lit(1000)).cast("string")
    )
    line = F.concat(
        F.lit("h"), F.pmod("user_id", F.lit(5)).cast("string"),
        F.lit(" - u"), F.col("user_id").cast("string"),
        F.lit(" ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"), F.lit("] "),
        F.lit('"GET /p/'), F.col("event_type"), F.lit(' HTTP/1.1" '),
        status, F.lit(" "), nbytes,
    )
    out = grok(ev.withColumn("message", line), "%{COMMONAPACHELOG}")
    return out.select(
        "event_id",
        F.col("grok.clientip").alias("clientip"),
        F.col("grok.auth").alias("auth"),
        F.col("grok.verb").alias("verb"),
        F.col("grok.request").alias("request"),
        F.col("grok.httpversion").alias("httpversion"),
        F.col("grok.response").alias("response"),
        F.col("grok.bytes").alias("bytes"),
        F.to_timestamp("grok.timestamp", "dd/MMM/yyyy:HH:mm:ss").alias("req_ts"),
    )


_Q_GROK_PARSE_SQL = """
SELECT event_id,
       'h' || (user_id % 5) AS clientip,
       'u' || user_id AS auth,
       'GET' AS verb,
       '/p/' || event_type AS request,
       '1.1' AS httpversion,
       (200 + (event_id % 4) * 100)::BIGINT AS response,
       CASE WHEN event_id % 10 = 0 THEN NULL
            ELSE (user_id % 1000)::BIGINT END AS bytes,
       date_trunc('second', ts) AS req_ts
FROM events
"""


def q_decode_cef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEF codec round trip (§2.4, x-pack decode_cef processor,
    decode_cef.go:60-140 + cef/cef.rl grammar): event fields render
    into real CEF lines — header values with pipes/backslashes,
    extension values with equals/backslashes, all escaped — and the
    production decoder parses them back. The oracle computes the same
    fields directly in SQL, so a hash match certifies
    ``decode ∘ encode = identity`` incl. both escape alphabets, the
    full-name key translation, and the typed ECS columns."""
    from beats_spark.processors.cef import decode_cef, encode_cef

    ev = _t(spark, sf_dir, "events")
    src_ip = F.concat(
        F.lit("10."), F.pmod("user_id", F.lit(200)).cast("string"),
        F.lit(".0."), F.pmod("event_id", F.lit(250)).cast("string"),
    )
    msg = F.concat(
        F.lit("v="), F.round(F.col("value") * 100).cast("long").cast("string"),
        F.lit(" path c:\\tmp"),
    )
    enc = encode_cef(
        ev.select("event_id", "user_id", "event_type", "value"),
        version=0,
        device_vendor="secu|rity\\corp",
        device_product=F.col("event_type"),
        device_version="1.0",
        device_event_class_id=F.pmod("event_id", F.lit(100)),
        name=F.concat(F.lit("evt="), F.col("event_type")),
        severity=F.pmod("event_id", F.lit(11)),
        extensions={
            "src": src_ip,
            "spt": F.pmod("event_id", F.lit(65536)),
            "msg": msg,
            "eventId": F.col("event_id"),
        },
    )
    dec = decode_cef(enc.select("message"))
    return dec.select(
        F.col("cef_event_id").alias("event_id"),
        F.col("cef")["version"].alias("version"),
        F.col("cef")["device_vendor"].alias("device_vendor"),
        F.col("cef")["device_product"].alias("device_product"),
        F.col("cef")["device_event_class_id"].alias("class_id"),
        F.col("cef")["name"].alias("name"),
        F.col("cef")["severity"].alias("severity"),
        F.col("source_ip"),
        F.col("source_port"),
        F.col("cef_message"),
    )


_Q_DECODE_CEF_SQL = r"""
SELECT event_id,
       0::INT AS version,
       'secu|rity\corp' AS device_vendor,
       event_type AS device_product,
       (event_id % 100)::VARCHAR AS class_id,
       'evt=' || event_type AS name,
       (event_id % 11)::VARCHAR AS severity,
       '10.' || (user_id % 200) || '.0.' || (event_id % 250) AS source_ip,
       (event_id % 65536)::INT AS source_port,
       'v=' || round(value * 100)::BIGINT || ' path c:\tmp' AS cef_message
FROM events
"""


def _h8(seed: str) -> F.Column:
    """8-hex-char md5 slice of event_id — the deterministic value
    generator shared by the module-codec round-trip queries."""
    return F.substring(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(seed))), 1, 8
    )


def q_module_tidb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TiDB module, unified log format (filebeat/module/tidb/tidb —
    shared by tikv/pd/tiflash/ticdc): events render into real
    ``[time] [level] [logger] ["msg"] [k=v]...`` lines, then the
    production parser (``beats_spark/modules.py``) takes them apart.
    Six line variants exercise the module script's branch points —
    no kvs, unquoted message (NULL message put), kv-regex abort
    (body retained, earlier kvs kept), quoted keys/values, last-wins
    duplicates — plus +08:00-zone timestamps. The oracle computes
    every output column directly from the same md5 derivations."""
    from beats_spark.modules import unified_log_parse

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    u = _h8("u")
    k = F.conv(F.substring(_h8("k"), 1, 4), 16, 10).cast("long")
    k = F.pmod(k, F.lit(1000)).cast("string")
    msg = F.concat(F.lit("evt "), _h8("m"))
    ts = F.timestamp_millis(
        F.lit(1704067200000) + eid * 1000 + F.pmod(eid, F.lit(1000))
    )
    t_str = F.when(
        F.pmod(eid, F.lit(5)) == 0,
        F.concat(
            F.date_format(
                ts + F.expr("INTERVAL 8 HOURS"), "yyyy/MM/dd HH:mm:ss.SSS"
            ),
            F.lit(" +08:00"),
        ),
    ).otherwise(
        F.concat(F.date_format(ts, "yyyy/MM/dd HH:mm:ss.SSS"),
                 F.lit(" +00:00"))
    )
    level = (
        F.when(F.pmod(eid, F.lit(3)) == 0, "INFO")
        .when(F.pmod(eid, F.lit(3)) == 1, "WARN")
        .otherwise("ERROR")
    )
    logger = F.concat(
        F.lit("w"), F.pmod(eid, F.lit(9)).cast("string"),
        F.lit(".go:"), F.pmod(eid, F.lit(999)).cast("string"),
    )
    qmsg = F.concat(F.lit('["'), msg, F.lit('"]'))
    body = (
        F.when(F.pmod(eid, F.lit(13)) == 0, qmsg)
        .when(
            F.pmod(eid, F.lit(11)) == 0,
            F.concat(F.lit("[plain-"), _h8("p"), F.lit("] [uuid="), u,
                     F.lit("] [n="), k, F.lit("]")),
        )
        .when(
            F.pmod(eid, F.lit(7)) == 0,
            F.concat(qmsg, F.lit(" [uuid="), u, F.lit("] [bad=] [n="), k,
                     F.lit("]")),
        )
        .when(
            F.pmod(eid, F.lit(9)) == 0,
            F.concat(qmsg, F.lit(' ["k spc"='), u, F.lit('] [q="a b"]')),
        )
        .when(
            F.pmod(eid, F.lit(17)) == 0,
            F.concat(qmsg, F.lit(" [n=1] [n="), k, F.lit("]")),
        )
        .otherwise(
            F.concat(qmsg, F.lit(" [uuid="), u, F.lit("] [n="), k,
                     F.lit("]"))
        )
    )
    line = F.concat(
        F.lit("["), t_str, F.lit("] ["), level, F.lit("] ["), logger,
        F.lit("] "), body,
    )
    parsed = unified_log_parse(ev.select("event_id",
                                         line.alias("message")))
    kv_csv = F.array_join(
        F.transform(
            F.sort_array(F.map_entries("kv")),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ";",
    )
    return parsed.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
        F.col("log_level").alias("level"),
        F.col("log_logger").alias("logger"),
        "message",
        "body",
        kv_csv.alias("kv_csv"),
    )


_Q_MODULE_TIDB_SQL = """
WITH f AS (
  SELECT event_id,
         substr(md5(event_id::VARCHAR || 'u'), 1, 8) AS u,
         (('0x' || substr(md5(event_id::VARCHAR || 'k'), 1, 4))::BIGINT
          % 1000)::VARCHAR AS k,
         'evt ' || substr(md5(event_id::VARCHAR || 'm'), 1, 8) AS msg,
         make_timestamp(1704067200000000
                        + (event_id * 1000 + event_id % 1000) * 1000) AS t,
         CASE WHEN event_id % 13 = 0 THEN 'nokv'
              WHEN event_id % 11 = 0 THEN 'plain'
              WHEN event_id % 7 = 0 THEN 'abort'
              WHEN event_id % 9 = 0 THEN 'quoted'
              WHEN event_id % 17 = 0 THEN 'dup'
              ELSE 'std' END AS variant
  FROM events
)
SELECT event_id,
       strftime(t, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS at,
       CASE WHEN event_id % 3 = 0 THEN 'INFO'
            WHEN event_id % 3 = 1 THEN 'WARN' ELSE 'ERROR' END AS level,
       'w' || (event_id % 9) || '.go:' || (event_id % 999) AS logger,
       CASE WHEN variant = 'plain' THEN NULL ELSE msg END AS message,
       CASE WHEN variant = 'abort'
            THEN '["' || msg || '"] [uuid=' || u || '] [bad=] [n=' || k
                 || ']'
            ELSE NULL END AS body,
       CASE variant
            WHEN 'nokv' THEN ''
            WHEN 'plain' THEN 'n=' || k || ';uuid=' || u
            WHEN 'abort' THEN 'uuid=' || u
            WHEN 'quoted' THEN 'k spc=' || u || ';q=a b'
            WHEN 'dup' THEN 'n=' || k
            ELSE 'n=' || k || ';uuid=' || u END AS kv_csv
FROM f
"""


def q_module_slowlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TiDB slow-log module (filebeat/module/tidb/slowlog): events
    render into ``# Time:``-delimited blocks — ``key: value`` comment
    lines plus SQL text — and ``slowlog_parse`` recovers the typed
    fields. Covers the JS number test's both outcomes (constructed
    floats → kv_num; a sub-1e-6 decimal, booleans, digests →
    kv_str), the Txn_start_ts/Conn_ID string forcing, and multi-line
    query concatenation. The oracle knows each field by
    construction."""
    from beats_spark.modules import slowlog_parse

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")

    def hl(seed: str) -> F.Column:
        return F.conv(_h8(seed), 16, 10).cast("long")

    qts = F.concat(
        (F.pmod(hl("a"), F.lit(9)) + 1).cast("string"), F.lit("."),
        F.lpad(F.pmod(hl("b"), F.lit(10000000)).cast("string"), 7, "0"),
        (F.pmod(hl("c"), F.lit(9)) + 1).cast("string"),
    )
    mem = F.pmod(hl("d"), F.lit(100000)).cast("string")
    txn = F.concat(
        F.lit("4266067801"),
        F.lpad(F.pmod(hl("e"), F.lit(100000000)).cast("string"), 8, "0"),
    )
    is_int = F.when(F.pmod(eid, F.lit(2)) == 0, "true").otherwise("false")
    dig = F.md5(F.concat(eid.cast("string"), F.lit("g")))
    sub_micro = F.pmod(eid, F.lit(3)) == 0
    wts = F.when(sub_micro, F.lit("0.0000001")).otherwise(
        F.concat(
            (F.pmod(hl("f"), F.lit(9)) + 1).cast("string"), F.lit("."),
            F.lpad(F.pmod(hl("w"), F.lit(10000000)).cast("string"), 7, "0"),
            (F.pmod(hl("x"), F.lit(9)) + 1).cast("string"),
        )
    )
    ts = F.timestamp_millis(
        F.lit(1704067200000) + eid * 1000 + F.pmod(eid, F.lit(1000))
    )
    time_str = F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS"), F.lit("Z"))
    qline = F.when(
        sub_micro,
        F.concat(F.lit("select c"), eid.cast("string"),
                 F.lit("\n from t;")),
    ).otherwise(
        F.concat(F.lit("select c"), eid.cast("string"),
                 F.lit(" from t where x = "), eid.cast("string"),
                 F.lit(" ;"))
    )
    block = F.concat(
        F.lit("# Time: "), time_str,
        F.lit("\n# Txn_start_ts: "), txn,
        F.lit("\n# Query_time: "), qts, F.lit(" Mem_max: "), mem,
        F.lit("\n# Conn_ID: "), eid.cast("string"),
        F.lit("\n# Is_internal: "), is_int,
        F.lit("\n# Digest: "), dig,
        F.lit("\n# Wait_TS: "), wts,
        F.lit("\n"), qline,
    )
    parsed = slowlog_parse(ev.select("event_id", block.alias("message")))
    return parsed.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
        F.col("kv_str")["Query"].alias("query"),
        F.col("kv_num")["Query_time"].alias("query_time"),
        F.col("kv_num")["Mem_max"].alias("mem_max"),
        F.col("kv_str")["Txn_start_ts"].alias("txn_start_ts"),
        F.col("kv_str")["Conn_ID"].alias("conn_id"),
        F.col("kv_str")["Is_internal"].alias("is_internal"),
        F.col("kv_str")["Digest"].alias("digest"),
        F.col("kv_num")["Wait_TS"].alias("wait_ts_num"),
        F.col("kv_str")["Wait_TS"].alias("wait_ts_str"),
        F.size("kv_num").cast("int").alias("n_num"),
    )


_Q_MODULE_SLOWLOG_SQL = """
WITH h AS (
  SELECT event_id,
         (('0x' || substr(md5(event_id::VARCHAR || 'a'), 1, 8))::BIGINT
          % 9 + 1)::VARCHAR
         || '.'
         || lpad((('0x' || substr(md5(event_id::VARCHAR || 'b'), 1, 8))
                  ::BIGINT % 10000000)::VARCHAR, 7, '0')
         || (('0x' || substr(md5(event_id::VARCHAR || 'c'), 1, 8))::BIGINT
             % 9 + 1)::VARCHAR AS qts,
         ('0x' || substr(md5(event_id::VARCHAR || 'd'), 1, 8))::BIGINT
          % 100000 AS mem,
         '4266067801'
         || lpad((('0x' || substr(md5(event_id::VARCHAR || 'e'), 1, 8))
                  ::BIGINT % 100000000)::VARCHAR, 8, '0') AS txn,
         (('0x' || substr(md5(event_id::VARCHAR || 'f'), 1, 8))::BIGINT
          % 9 + 1)::VARCHAR
         || '.'
         || lpad((('0x' || substr(md5(event_id::VARCHAR || 'w'), 1, 8))
                  ::BIGINT % 10000000)::VARCHAR, 7, '0')
         || (('0x' || substr(md5(event_id::VARCHAR || 'x'), 1, 8))::BIGINT
             % 9 + 1)::VARCHAR AS wts,
         event_id % 3 = 0 AS sub_micro,
         make_timestamp(1704067200000000
                        + (event_id * 1000 + event_id % 1000) * 1000) AS t
  FROM events
)
SELECT event_id,
       strftime(t, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS at,
       CASE WHEN sub_micro
            THEN 'select c' || event_id || ' from t;'
            ELSE 'select c' || event_id || ' from t where x = '
                 || event_id || ' ;' END AS query,
       qts::DOUBLE AS query_time,
       mem::DOUBLE AS mem_max,
       txn AS txn_start_ts,
       event_id::VARCHAR AS conn_id,
       CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
         AS is_internal,
       md5(event_id::VARCHAR || 'g') AS digest,
       CASE WHEN sub_micro THEN NULL ELSE wts::DOUBLE END AS wait_ts_num,
       CASE WHEN sub_micro THEN '0.0000001' ELSE NULL END AS wait_ts_str,
       CASE WHEN sub_micro THEN 2 ELSE 3 END::INT AS n_num
FROM h
"""


def q_module_nginx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nginx access module via the ES ingest-pipeline COMPILER: events
    render into real combined-log lines, then the REFERENCE's own
    pipeline definition (filebeat/module/nginx/access/ingest/
    pipeline.yml — grok, splits, date, the translated public-IP
    script, user_agent, ECS categorization) runs as one compiled Spark
    plan (`beats_spark/ingest.py` + `module_scripts.py`). Variants
    exercise the remote-ip-list walker (private-list fallback, first
    public pick), the "-" user alternation, and the status→outcome
    ladder. The oracle knows every field by construction. Golden-
    fixture parity for the same pipeline: tests/test_module_pipelines.py."""
    from beats_spark.module_scripts import load_module_pipeline

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    ts = F.timestamp_seconds(F.lit(1704067200) + eid)
    k = (F.pmod(eid, F.lit(200)) + 1).cast("string")
    uname = F.concat(F.lit("u"), F.substring(
        F.md5(F.concat(eid.cast("string"), F.lit("n"))), 1, 6))
    user = F.when(F.pmod(eid, F.lit(3)) == 0, F.lit("-")).otherwise(uname)
    ipfield = (
        F.when(F.pmod(eid, F.lit(5)) == 0,
               F.concat(F.lit("10.0.0.2, 10.0.0.1, 203.0.113."), k))
        .when(F.pmod(eid, F.lit(7)) == 0, F.concat(F.lit("192.168.1."), k))
        .otherwise(F.concat(F.lit("198.51.100."), k))
    )
    method = F.when(F.pmod(eid, F.lit(2)) == 0, "GET").otherwise("POST")
    url = F.concat(F.lit("/p/"), _h8("u"))
    status = (
        F.when(F.pmod(eid, F.lit(11)) == 0, 404)
        .when(F.pmod(eid, F.lit(13)) == 0, 500)
        .when(F.pmod(eid, F.lit(3)) == 0, 301)
        .otherwise(200)
    )
    nbytes = F.conv(F.substring(_h8("b"), 1, 4), 16, 10).cast("long")
    agent = F.when(
        F.pmod(eid, F.lit(2)) == 0, F.lit("curl/8.1.2")
    ).otherwise(F.lit("Mozilla/5.0 (X11; Linux x86_64) Firefox/115.0"))
    line = F.concat(
        ipfield, F.lit(" - "), user, F.lit(" ["),
        F.date_format(ts, "dd/MMM/yyyy:HH:mm:ss Z"), F.lit('] "'),
        method, F.lit(" "), url, F.lit(' HTTP/1.1" '),
        status.cast("string"), F.lit(" "), nbytes.cast("string"),
        F.lit(' "-" "'), agent, F.lit('"'),
    )
    df = ev.select(
        "event_id", line.alias("message"),
        F.lit(None).cast("string").alias("event.timezone"),
        F.lit("2030-01-01T00:00:00.000Z").alias("@timestamp"),
    )
    out = load_module_pipeline("nginx", "access")(df)

    def c(name):
        return F.col(f"`{name}`")

    return out.select(
        "event_id",
        F.date_format(c("@timestamp"),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("at"),
        c("source.address").alias("source_address"),
        c("source.ip").alias("source_ip"),
        F.array_join(c("nginx.access.remote_ip_list"), ",")
        .alias("remote_ip_csv"),
        c("http.request.method").alias("method"),
        c("url.original").alias("url"),
        c("http.version").alias("http_version"),
        c("http.response.status_code").alias("status"),
        c("http.response.body.bytes").alias("bytes"),
        c("user.name").alias("user_name"),
        c("event.outcome").alias("outcome"),
        c("event.kind").alias("kind"),
        F.array_join(c("event.category"), ",").alias("category_csv"),
        F.array_join(c("event.type"), ",").alias("type_csv"),
        F.element_at(c("related.ip"), 1).alias("related_ip"),
        c("user_agent.original").alias("agent"),
    )


_Q_MODULE_NGINX_SQL = """
WITH f AS (
  SELECT event_id,
         make_timestamp((1704067200 + event_id) * 1000000) AS t,
         (event_id % 200 + 1)::VARCHAR AS k,
         'u' || substr(md5(event_id::VARCHAR || 'n'), 1, 6) AS uname,
         event_id % 5 = 0 AS multi,
         event_id % 7 = 0 AS priv,
         ('0x' || substr(md5(event_id::VARCHAR || 'b'), 1, 4))::BIGINT
           AS nbytes,
         CASE WHEN event_id % 11 = 0 THEN 404
              WHEN event_id % 13 = 0 THEN 500
              WHEN event_id % 3 = 0 THEN 301
              ELSE 200 END AS status
  FROM events
), g AS (
  SELECT *,
         CASE WHEN multi THEN '203.0.113.' || k
              WHEN priv THEN '192.168.1.' || k
              ELSE '198.51.100.' || k END AS src
  FROM f
)
SELECT event_id,
       strftime(t, '%Y-%m-%dT%H:%M:%S') || 'Z' AS at,
       src AS source_address,
       src AS source_ip,
       CASE WHEN multi THEN '10.0.0.2,10.0.0.1,203.0.113.' || k
            WHEN priv THEN '192.168.1.' || k
            ELSE '198.51.100.' || k END AS remote_ip_csv,
       CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END AS method,
       '/p/' || substr(md5(event_id::VARCHAR || 'u'), 1, 8) AS url,
       '1.1' AS http_version,
       status::BIGINT AS status,
       nbytes AS bytes,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE uname END AS user_name,
       CASE WHEN status < 400 THEN 'success' ELSE 'failure' END AS outcome,
       'event' AS kind,
       'web' AS category_csv,
       'access' AS type_csv,
       src AS related_ip,
       CASE WHEN event_id % 2 = 0 THEN 'curl/8.1.2'
            ELSE 'Mozilla/5.0 (X11; Linux x86_64) Firefox/115.0' END
         AS agent
FROM g
"""


def q_module_system_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system/syslog module via the compiled reference pipeline
    (filebeat/module/system/syslog/ingest/pipeline.yml): RFC-3164
    lines — with pid-less and multiline (GREEDYMULTILINE) variants —
    grok'd into host/process/message, yearless timestamp parsed (the
    1970 default year is deterministic, so the oracle compares
    month-day-time), related.hosts appended. Golden parity for the
    same pipeline: tests/test_module_pipelines.py (darwin/suse)."""
    from beats_spark.module_scripts import load_module_pipeline

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    secs = F.pmod(eid * 977, F.lit(31536000))
    ts = F.timestamp_seconds(secs)
    host = F.concat(F.lit("host"), F.pmod(eid, F.lit(50)).cast("string"))
    proc = F.concat(F.lit("proc"), F.pmod(eid, F.lit(9)).cast("string"))
    pid = (F.pmod(eid, F.lit(65535)) + 1).cast("string")
    no_pid = F.pmod(eid, F.lit(13)) == 0
    multi = F.pmod(eid, F.lit(5)) == 0
    body = F.concat(F.lit("evt "), _h8("m"))
    body = F.when(
        multi, F.concat(body, F.lit("\n    cont "), _h8("c"))
    ).otherwise(body)
    line = F.concat(
        F.date_format(ts, "MMM d HH:mm:ss"), F.lit(" "), host, F.lit(" "),
        proc,
        F.when(no_pid, F.lit("")).otherwise(
            F.concat(F.lit("["), pid, F.lit("]"))),
        F.lit(": "), body,
    )
    df = ev.select(
        "event_id", line.alias("message"),
        F.lit(None).cast("string").alias("event.timezone"),
        F.lit("2030-01-01T00:00:00.000Z").alias("@timestamp"),
    )
    out = load_module_pipeline("system", "syslog")(df)

    def c(name):
        return F.col(f"`{name}`")

    return out.select(
        "event_id",
        F.date_format(c("@timestamp"), "MM-dd'T'HH:mm:ss").alias("at"),
        c("host.hostname").alias("host"),
        c("process.name").alias("proc"),
        c("process.pid").alias("pid"),
        c("message").alias("msg"),
        F.element_at(c("related.hosts"), 1).alias("related_host"),
        c("event.kind").alias("kind"),
    )


_Q_MODULE_SYSLOG_SQL = """
WITH f AS (
  SELECT event_id,
         make_timestamp(((event_id * 977) % 31536000) * 1000000) AS t,
         'host' || (event_id % 50) AS host,
         'proc' || (event_id % 9) AS proc,
         event_id % 65535 + 1 AS pid,
         event_id % 13 = 0 AS no_pid,
         event_id % 5 = 0 AS multi,
         'evt ' || substr(md5(event_id::VARCHAR || 'm'), 1, 8) AS body1,
         '    cont ' || substr(md5(event_id::VARCHAR || 'c'), 1, 8) AS body2
  FROM events
)
SELECT event_id,
       strftime(t, '%m-%dT%H:%M:%S') AS at,
       host,
       proc,
       CASE WHEN no_pid THEN NULL ELSE pid END::BIGINT AS pid,
       CASE WHEN multi THEN body1 || chr(10) || body2 ELSE body1 END AS msg,
       host AS related_host,
       'event' AS kind
FROM f
"""


def q_module_system_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system/auth module via the compiled reference pipeline
    (filebeat/module/system/auth/ingest/pipeline.yml) with the
    translated ssh-categorization script: five line shapes — Accepted
    publickey, Failed password for invalid user, sudo command,
    useradd, and the pam 'by user' tail-grok — drive the grok ladder,
    the _temp.byuser/foruser renames, the iam/creation appends, and
    the related.user/ip fan-in. Oracle knows every field by
    construction; golden parity: tests/test_module_pipelines.py."""
    from beats_spark.module_scripts import load_module_pipeline

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    secs = F.pmod(eid * 733, F.lit(31536000))
    ts = F.timestamp_seconds(secs)
    # real syslog pads single-digit days with a space ("Feb  8") — the
    # auth pipeline's format list is ["MMM  d", "MMM dd", ISO8601]
    ts_str = F.concat(
        F.date_format(ts, "MMM"), F.lit(" "),
        F.lpad(F.date_format(ts, "d"), 2, " "), F.lit(" "),
        F.date_format(ts, "HH:mm:ss"))
    host = F.concat(F.lit("node"), F.pmod(eid, F.lit(40)).cast("string"))
    pid = (F.pmod(eid, F.lit(65535)) + 1).cast("string")
    user = F.concat(F.lit("usr"), F.substring(
        F.md5(F.concat(eid.cast("string"), F.lit("n"))), 1, 5))
    k = (F.pmod(eid, F.lit(200)) + 1).cast("string")
    ip = F.concat(F.lit("203.0.113."), k)
    port = (F.pmod(eid, F.lit(60000)) + 1024).cast("string")
    n = F.pmod(eid, F.lit(10)).cast("string")
    sig = F.upper(_h8("s"))
    pre = F.concat(ts_str, F.lit(" "), host, F.lit(" "))
    v_acc = F.concat(
        pre, F.lit("sshd["), pid, F.lit("]: Accepted publickey for "),
        user, F.lit(" from "), ip, F.lit(" port "), port,
        F.lit(" ssh2: RSA "), sig)
    v_fail = F.concat(
        pre, F.lit("sshd["), pid,
        F.lit("]: Failed password for invalid user "), user,
        F.lit(" from "), ip, F.lit(" port "), port, F.lit(" ssh2"))
    v_sudo = F.concat(
        pre, F.lit("sudo: "), user, F.lit(" : TTY=pts/"), n,
        F.lit(" ; PWD=/home/"), user, F.lit(" ; USER=root ; COMMAND=/bin/cmd"),
        n)
    v_new = F.concat(
        pre, F.lit("useradd["), pid, F.lit("]: new user: name="), user,
        F.lit(", UID=1"), k, F.lit(", GID=2"), k, F.lit(", home=/home/"),
        user, F.lit(", shell=/bin/bash"))
    v_gen = F.concat(
        pre, F.lit("su["), pid,
        F.lit("]: session opened for user root by "), user, F.lit("(uid=0)"))
    line = (
        F.when(F.pmod(eid, F.lit(7)) == 0, v_acc)
        .when(F.pmod(eid, F.lit(5)) == 0, v_fail)
        .when(F.pmod(eid, F.lit(3)) == 0, v_sudo)
        .when(F.pmod(eid, F.lit(11)) == 0, v_new)
        .otherwise(v_gen)
    )
    df = ev.select(
        "event_id", line.alias("message"),
        F.lit(None).cast("string").alias("event.timezone"),
        F.lit("2030-01-01T00:00:00.000Z").alias("@timestamp"),
    )
    out = load_module_pipeline("system", "auth")(df)

    def c(name):
        return F.col(f"`{name}`")

    return out.select(
        "event_id",
        F.date_format(c("@timestamp"), "MM-dd'T'HH:mm:ss").alias("at"),
        c("host.hostname").alias("host"),
        c("process.name").alias("proc"),
        c("process.pid").alias("pid"),
        c("user.name").alias("user_name"),
        c("user.effective.name").alias("effective_user"),
        c("user.id").alias("user_id"),
        c("group.id").alias("group_id"),
        c("source.ip").alias("source_ip"),
        c("source.port").alias("port"),
        c("system.auth.ssh.event").alias("ssh_event"),
        c("system.auth.ssh.method").alias("ssh_method"),
        c("system.auth.ssh.signature").alias("signature"),
        c("system.auth.sudo.tty").alias("sudo_tty"),
        c("system.auth.sudo.pwd").alias("sudo_pwd"),
        c("system.auth.sudo.user").alias("sudo_user"),
        c("system.auth.sudo.command").alias("sudo_cmd"),
        c("event.action").alias("action"),
        c("event.outcome").alias("outcome"),
        F.array_join(c("event.type"), ",").alias("type_csv"),
        F.array_join(c("event.category"), ",").alias("category_csv"),
        F.element_at(c("related.user"), 1).alias("related_user"),
        F.element_at(c("related.ip"), 1).alias("related_ip"),
        c("message").alias("msg"),
    )


_Q_MODULE_AUTH_SQL = """
WITH f AS (
  SELECT event_id,
         make_timestamp(((event_id * 733) % 31536000) * 1000000) AS t,
         'node' || (event_id % 40) AS host,
         event_id % 65535 + 1 AS pid,
         'usr' || substr(md5(event_id::VARCHAR || 'n'), 1, 5) AS uname,
         (event_id % 200 + 1)::VARCHAR AS k,
         '203.0.113.' || (event_id % 200 + 1) AS ip,
         event_id % 60000 + 1024 AS port,
         (event_id % 10)::VARCHAR AS n,
         upper(substr(md5(event_id::VARCHAR || 's'), 1, 8)) AS sig,
         CASE WHEN event_id % 7 = 0 THEN 'acc'
              WHEN event_id % 5 = 0 THEN 'fail'
              WHEN event_id % 3 = 0 THEN 'sudo'
              WHEN event_id % 11 = 0 THEN 'new'
              ELSE 'gen' END AS v
  FROM events
)
SELECT event_id,
       strftime(t, '%m-%dT%H:%M:%S') AS at,
       host,
       CASE v WHEN 'acc' THEN 'sshd' WHEN 'fail' THEN 'sshd'
              WHEN 'sudo' THEN 'sudo' WHEN 'new' THEN 'useradd'
              ELSE 'su' END AS proc,
       CASE WHEN v = 'sudo' THEN NULL ELSE pid END::BIGINT AS pid,
       uname AS user_name,
       CASE WHEN v IN ('sudo', 'gen') THEN 'root' END AS effective_user,
       CASE v WHEN 'new' THEN '1' || k WHEN 'gen' THEN '0' END AS user_id,
       CASE WHEN v = 'new' THEN '2' || k END AS group_id,
       CASE WHEN v IN ('acc', 'fail') THEN ip END AS source_ip,
       CASE WHEN v IN ('acc', 'fail') THEN port END::BIGINT AS port,
       CASE v WHEN 'acc' THEN 'Accepted' WHEN 'fail' THEN 'Failed' END
         AS ssh_event,
       CASE v WHEN 'acc' THEN 'publickey' WHEN 'fail' THEN 'password' END
         AS ssh_method,
       CASE WHEN v = 'acc' THEN 'RSA ' || sig END AS signature,
       CASE WHEN v = 'sudo' THEN 'pts/' || n END AS sudo_tty,
       CASE WHEN v = 'sudo' THEN '/home/' || uname END AS sudo_pwd,
       CASE WHEN v = 'sudo' THEN 'root' END AS sudo_user,
       CASE WHEN v = 'sudo' THEN '/bin/cmd' || n END AS sudo_cmd,
       CASE WHEN v IN ('acc', 'fail') THEN 'ssh_login' END AS action,
       CASE v WHEN 'acc' THEN 'success' WHEN 'fail' THEN 'failure'
              WHEN 'new' THEN 'success' END AS outcome,
       CASE v WHEN 'acc' THEN 'authentication_success,info'
              WHEN 'fail' THEN 'authentication_failure,info'
              WHEN 'new' THEN 'user,creation' END AS type_csv,
       CASE v WHEN 'acc' THEN 'authentication,session'
              WHEN 'fail' THEN 'authentication'
              WHEN 'new' THEN 'iam' END AS category_csv,
       uname AS related_user,
       CASE WHEN v IN ('acc', 'fail') THEN ip END AS related_ip,
       CASE WHEN v = 'gen'
            THEN 'session opened for user root by ' || uname || '(uid=0)'
            END AS msg
FROM f
"""


def q_module_postgresql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """postgresql/log module via the compiled reference pipeline
    (filebeat/module/postgresql/log/ingest/pipeline.yml + the
    pipeline-csv sub-pipeline): events render as PostgreSQL CSV log
    lines — quoted fields with embedded commas, the 23-column csv
    target map, session-start date parse, the duration script's
    FLOAT32 product semantics (Math.round(float * int) in Painless),
    and the sql_state_code ==~ regex that routes event.type. Oracle
    knows every field by construction; golden parity for the same
    pipeline (all 20 shipped fixtures): tests/test_module_pipelines.py."""
    from beats_spark.module_scripts import load_module_pipeline

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    ts = F.timestamp_seconds(F.lit(1704067200) + eid)
    ms = F.lpad(F.pmod(eid, F.lit(1000)).cast("string"), 3, "0")
    ts_str = F.concat(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
                      F.lit("."), ms, F.lit(" UTC"))
    ts2_str = F.concat(
        F.date_format(F.timestamp_seconds(F.lit(1704067100) + eid),
                      "yyyy-MM-dd HH:mm:ss"), F.lit(" UTC"))
    user = F.concat(F.lit("u"), F.substring(
        F.md5(F.concat(eid.cast("string"), F.lit("n"))), 1, 6))
    db = F.concat(F.lit("db"), F.pmod(eid, F.lit(8)).cast("string"))
    pid = (F.pmod(eid, F.lit(30000)) + 100).cast("string")
    k = (F.pmod(eid, F.lit(200)) + 1).cast("string")
    port = (F.pmod(eid, F.lit(60000)) + 1024).cast("string")
    conn = F.concat(F.lit("198.51.100."), k, F.lit(":"), port)
    sess = F.concat(F.lit("5ff2"), F.substring(_h8("s"), 1, 4),
                    F.lit("."), F.substring(_h8("t"), 1, 2))
    line_num = (F.pmod(eid, F.lit(90)) + 1).cast("string")
    txn = F.pmod(eid, F.lit(5000)).cast("string")
    vxid = F.concat(F.lit("3/"), F.pmod(eid, F.lit(400)).cast("string"))
    is_dur = F.pmod(eid, F.lit(3)) == 0
    is_err = (F.pmod(eid, F.lit(13)) == 0) & ~is_dur
    qt_milli = F.pmod(eid, F.lit(9000)) + 1
    qt = F.concat((qt_milli / 1000).cast("int").cast("string"), F.lit("."),
                  F.lpad(F.pmod(qt_milli, F.lit(1000)).cast("string"),
                         3, "0"))
    msg = (
        F.when(is_dur, F.concat(
            F.lit("duration: "), qt,
            F.lit(" ms  execute S_7: SELECT a, b")))
        .when(is_err, F.lit("syntax error at or near (x)"))
        .otherwise(F.lit("checkpoint starting: time")))
    state = F.when(is_err, F.lit("42601")).otherwise(F.lit("00000"))
    line = F.concat(
        ts_str, F.lit(',"'), user, F.lit('","'), db, F.lit('",'), pid,
        F.lit(',"'), conn, F.lit('",'), sess, F.lit(","), line_num,
        F.lit(',"SELECT",'), ts2_str, F.lit(","), vxid, F.lit(","), txn,
        F.lit(",LOG,"), state, F.lit(',"'), msg,
        F.lit('",,,,,,,,,"app1","client backend"'),
    )
    df = ev.select(
        "event_id", line.alias("message"),
        F.lit("UTC").alias("event.timezone"),
        F.lit("2030-01-01T00:00:00.000Z").alias("@timestamp"),
    )
    out = load_module_pipeline("postgresql", "log")(df)

    def c(name):
        return F.col(f"`{name}`")

    return out.select(
        "event_id",
        F.date_format(c("@timestamp"),
                      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
        c("process.pid").alias("pid"),
        c("user.name").alias("user_name"),
        c("postgresql.log.database").alias("db"),
        c("log.level").alias("level"),
        c("postgresql.log.sql_state_code").alias("state"),
        c("postgresql.log.session_id").alias("session_id"),
        F.date_format(c("postgresql.log.session_start_time"),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("sstart"),
        c("postgresql.log.transaction_id").alias("txn"),
        c("postgresql.log.virtual_transaction_id").alias("vxid"),
        c("postgresql.log.client_addr").alias("client_addr"),
        c("postgresql.log.client_port").alias("client_port"),
        c("postgresql.log.command_tag").alias("cmd_tag"),
        c("event.duration").alias("dur"),
        c("postgresql.log.query_step").alias("qstep"),
        c("message").alias("msg"),
        c("event.kind").alias("kind"),
        F.array_join(c("event.category"), ",").alias("category_csv"),
        F.array_join(c("event.type"), ",").alias("type_csv"),
        F.element_at(c("related.user"), 1).alias("related_user"),
        c("postgresql.log.application_name").alias("app"),
        c("postgresql.log.backend_type").alias("backend"),
    )


_Q_MODULE_POSTGRESQL_SQL = """
WITH f AS (
  SELECT event_id,
         event_id % 3 = 0 AS is_dur,
         event_id % 13 = 0 AND event_id % 3 <> 0 AS is_err,
         event_id % 9000 + 1 AS qtm,
         make_timestamp((1704067200 + event_id) * 1000000
                        + (event_id % 1000) * 1000) AS t,
         make_timestamp((1704067100 + event_id) * 1000000) AS t2,
         'u' || substr(md5(event_id::VARCHAR || 'n'), 1, 6) AS uname
  FROM events
), g AS (
  SELECT *,
         (qtm // 1000)::VARCHAR || '.' ||
           lpad((qtm % 1000)::VARCHAR, 3, '0') AS qt
  FROM f
)
SELECT event_id,
       strftime(t, '%Y-%m-%dT%H:%M:%S') || '.' ||
         lpad((event_id % 1000)::VARCHAR, 3, '0') || 'Z' AS at,
       (event_id % 30000 + 100)::VARCHAR AS pid,
       uname AS user_name,
       'db' || (event_id % 8)::VARCHAR AS db,
       'LOG' AS level,
       CASE WHEN is_err THEN '42601' ELSE '00000' END AS state,
       '5ff2' || substr(md5(event_id::VARCHAR || 's'), 1, 4) || '.' ||
         substr(md5(event_id::VARCHAR || 't'), 1, 2) AS session_id,
       strftime(t2, '%Y-%m-%dT%H:%M:%S') || 'Z' AS sstart,
       (event_id % 5000)::BIGINT AS txn,
       '3/' || (event_id % 400)::VARCHAR AS vxid,
       '198.51.100.' || (event_id % 200 + 1)::VARCHAR AS client_addr,
       (event_id % 60000 + 1024)::INT AS client_port,
       'SELECT' AS cmd_tag,
       CASE WHEN is_dur THEN
         round(CAST(CAST(qt AS REAL) * CAST(1000000 AS REAL) AS DOUBLE))
           ::BIGINT END AS dur,
       CASE WHEN is_dur THEN 'execute' END AS qstep,
       CASE WHEN is_dur THEN 'SELECT a, b'
            WHEN is_err THEN 'syntax error at or near (x)'
            ELSE 'checkpoint starting: time' END AS msg,
       'event' AS kind,
       'database' AS category_csv,
       CASE WHEN is_err THEN 'error' ELSE 'info' END AS type_csv,
       uname AS related_user,
       'app1' AS app,
       'client backend' AS backend
FROM g
"""


def q_module_auditd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auditd/log module via the compiled reference pipeline
    (filebeat/module/auditd/log/ingest/pipeline.yml) with all three
    translated scripts: the kv-map normalizer (hex decode with the
    needed-encoding rule, quote trim, arch remap, ?/(null) drops),
    the record-type/syscall → ECS table (Arrow-batched lookup,
    has_fields act selection, copy rules with digit-suffix routing),
    and args_count. Three line shapes: SYSCALL execve (typed converts,
    c000003e arch, (null) drops), USER_LOGIN with a sub_kv msg='...'
    (hex acct decode, auid copy to user.id, res→outcome, addr→
    source.ip) and SYSTEM_BOOT (scalar category/type overrides over
    the table's lists). Oracle knows every field by construction;
    golden parity for all 7 shipped fixtures:
    tests/test_module_pipelines.py."""
    from beats_spark.module_scripts import load_module_pipeline

    ev = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    epoch = (F.lit(1704067200) + eid).cast("string")
    ms = F.lpad(F.pmod(eid, F.lit(1000)).cast("string"), 3, "0")
    seq = (eid + 100).cast("string")
    k = F.pmod(eid, F.lit(200)) + 1
    ks = k.cast("string")
    pid = (F.pmod(eid, F.lit(30000)) + 2).cast("string")
    ppid = (F.pmod(eid, F.lit(30000)) + 1).cast("string")
    auid2 = F.concat(F.lit("7"), F.lpad(ks, 2, "0"))
    is_boot = F.pmod(eid, F.lit(7)) == 0
    is_login = (F.pmod(eid, F.lit(5)) == 0) & ~is_boot
    head = F.concat(F.lit(" msg=audit("), epoch, F.lit("."), ms,
                    F.lit(":"), seq, F.lit("): "))
    line = (
        F.when(is_boot, F.concat(
            F.lit("type=SYSTEM_BOOT"), head, F.lit("init=systemd")))
        .when(is_login, F.concat(
            F.lit("type=USER_LOGIN"), head,
            F.lit("pid="), pid, F.lit(" uid=0 auid="), auid2,
            F.lit(" ses=4 msg='op=login acct=61646D2073 "
                  "exe=\"/usr/sbin/sshd\" hostname=? addr=198.51.100."),
            ks, F.lit(" terminal=ssh res=failed'")))
        .otherwise(F.concat(
            F.lit("type=SYSCALL"), head,
            F.lit("arch=c000003e syscall=execve success=yes exit=0 ppid="),
            ppid, F.lit(" pid="), pid,
            F.lit(" auid=4294967295 uid=1000 gid=1000 euid=1000 comm=\""),
            F.concat(F.lit("proc"), ks),
            F.lit("\" exe=\"/usr/bin/app"), ks,
            F.lit("\" key=(null)"))))
    df = ev.select(
        "event_id", line.alias("message"),
        F.lit(None).cast("string").alias("event.timezone"),
        F.lit("2030-01-01T00:00:00.000Z").alias("@timestamp"),
    )
    out = load_module_pipeline("auditd", "log")(df)

    def c(name):
        return F.col(f"`{name}`")

    return out.select(
        "event_id",
        F.date_format(c("@timestamp"),
                      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("at"),
        c("auditd.log.sequence").alias("seq"),
        c("auditd.log.record_type").alias("rec_type"),
        c("event.action").alias("action"),
        c("event.category").alias("category"),
        c("event.type").alias("etype"),
        c("event.outcome").alias("outcome"),
        c("event.kind").alias("kind"),
        c("host.architecture").alias("arch"),
        c("process.pid").alias("pid"),
        c("process.ppid").alias("ppid"),
        c("process.executable").alias("exe"),
        c("process.name").alias("pname"),
        c("process.exit_code").alias("exit"),
        c("user.id").alias("uid"),
        c("user.effective.id").alias("euid"),
        c("user.group.id").alias("gid"),
        c("user.audit.id").alias("audit_id"),
        c("user.name").alias("uname"),
        c("user.effective.name").alias("ueff_name"),
        c("source.ip").alias("src_ip"),
        c("user.terminal").alias("terminal"),
    )


_Q_MODULE_AUDITD_SQL = """
WITH f AS (
  SELECT event_id,
         event_id % 7 = 0 AS is_boot,
         event_id % 5 = 0 AND event_id % 7 <> 0 AS is_login,
         make_timestamp((1704067200 + event_id) * 1000000
                        + (event_id % 1000) * 1000) AS t,
         (event_id % 200 + 1)::VARCHAR AS ks,
         event_id % 30000 + 2 AS pid,
         event_id % 30000 + 1 AS ppid
  FROM events
)
SELECT event_id,
       strftime(t, '%Y-%m-%dT%H:%M:%S') || '.' ||
         lpad((event_id % 1000)::VARCHAR, 3, '0') || 'Z' AS at,
       (event_id + 100)::BIGINT AS seq,
       CASE WHEN is_boot THEN 'SYSTEM_BOOT'
            WHEN is_login THEN 'USER_LOGIN'
            ELSE 'SYSCALL' END AS rec_type,
       CASE WHEN is_boot THEN '["booted-system"]'
            WHEN is_login THEN '["logged-in"]'
            ELSE '["executed"]' END AS action,
       CASE WHEN is_boot THEN 'host'
            WHEN is_login THEN '["authentication"]'
            ELSE 'process' END AS category,
       CASE WHEN is_boot THEN 'info'
            WHEN is_login THEN '["start"]'
            ELSE 'info' END AS etype,
       CASE WHEN is_login THEN 'failed' END AS outcome,
       'event' AS kind,
       CASE WHEN NOT is_boot AND NOT is_login THEN 'x86_64' END AS arch,
       CASE WHEN NOT is_boot THEN pid::BIGINT END AS pid,
       CASE WHEN NOT is_boot AND NOT is_login THEN ppid::BIGINT END AS ppid,
       CASE WHEN is_login THEN '/usr/sbin/sshd'
            WHEN NOT is_boot THEN '/usr/bin/app' || ks END AS exe,
       CASE WHEN NOT is_boot AND NOT is_login
            THEN 'proc' || ks END AS pname,
       CASE WHEN NOT is_boot AND NOT is_login THEN 0::BIGINT END AS exit,
       CASE WHEN is_login THEN '7' || lpad(ks, 2, '0')
            WHEN NOT is_boot THEN '1000' END AS uid,
       CASE WHEN NOT is_boot AND NOT is_login THEN '1000' END AS euid,
       CASE WHEN NOT is_boot AND NOT is_login THEN '1000' END AS gid,
       CASE WHEN is_login THEN '7' || lpad(ks, 2, '0')
            WHEN NOT is_boot THEN '4294967295' END AS audit_id,
       CASE WHEN is_login THEN 'adm s' END AS uname,
       CASE WHEN is_login THEN 'adm s' END AS ueff_name,
       CASE WHEN is_login THEN '198.51.100.' || ks END AS src_ip,
       CASE WHEN is_login THEN 'ssh' END AS terminal
FROM f
"""


def q_sink_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bulk per-item triage (§2.7): status → outcome ladder
    (elasticsearch/client.go:390-420), dropped class diverted to the
    dead-letter sink, per-sink outcome counters (outputs/metrics.go)."""
    from beats_spark.routing import add_sink_column, triage_counts, triage_outcomes

    routing = {
        "indices": [
            {"index": "errors", "when": {"equals": {"event_type": "error"}}},
        ],
        "default": "main",
    }
    ev = _t(spark, sf_dir, "events")
    # deterministic synthetic bulk-item statuses (no ES in-sandbox):
    # mostly 201, a tail of 409/429/400/503 spread by event_id
    m = F.pmod("event_id", F.lit(20))
    status = (
        F.when(m == 16, 400)
        .when(m == 17, 409)
        .when(m == 18, 429)
        .when(m == 19, 503)
        .otherwise(201)
    )
    routed = add_sink_column(ev, routing).withColumn("item_status", status)
    return triage_counts(triage_outcomes(routed))


_Q_SINK_TRIAGE_SQL = """
WITH routed AS (
  SELECT CASE WHEN event_type = 'error' THEN 'errors' ELSE 'main' END AS sink0,
         CASE WHEN event_id % 20 = 16 THEN 400
              WHEN event_id % 20 = 17 THEN 409
              WHEN event_id % 20 = 18 THEN 429
              WHEN event_id % 20 = 19 THEN 503
              ELSE 201 END AS status
  FROM events
), classed AS (
  SELECT sink0,
         CASE WHEN status < 300 THEN 'acked'
              WHEN status = 409 THEN 'duplicate'
              WHEN status = 429 THEN 'toomany'
              WHEN status < 500 THEN 'dropped'
              ELSE 'retry' END AS outcome
  FROM routed
), triaged AS (
  -- dead-letter diversion keys off the OUTCOME class (the engine's
  -- triage_outcomes rule), so 3xx 'dropped' items divert too
  SELECT outcome,
         CASE WHEN outcome = 'dropped' THEN '_dead_letter' ELSE sink0 END AS sink
  FROM classed
)
SELECT sink,
       count(*) FILTER (WHERE outcome = 'acked') AS events_acked,
       count(*) FILTER (WHERE outcome = 'duplicate') AS events_duplicates,
       count(*) FILTER (WHERE outcome = 'toomany') AS events_toomany,
       count(*) FILTER (WHERE outcome = 'dropped') AS events_dropped,
       count(*) FILTER (WHERE outcome IN ('toomany', 'retry')) AS events_failed
FROM triaged GROUP BY sink
"""


def q_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star aggregate (§2.8): events per sink/type/hour window."""
    from beats_spark.routing import add_sink_column, sink_window_counts

    routing = {
        "indices": [
            {"index": "errors", "when": {"equals": {"event_type": "error"}}},
        ],
        "default": "main",
    }
    ev = _t(spark, sf_dir, "events")
    routed = add_sink_column(ev, routing)
    return sink_window_counts(
        routed, window="1 hour", source_col="event_type", level_col="__absent"
    )


_Q_WINDOW_AGG_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'errors' ELSE 'main' END AS sink,
       event_type, date_trunc('hour', ts) AS window_start,
       count(*) AS events
FROM events GROUP BY 1, 2, 3
"""


def q_csv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_csv_fields (quoted path = Arrow csv.reader, §2.4) +
    extract_array mappings — round-trips a quoted CSV line built from
    event columns back into typed fields."""
    from beats_spark.pipeline import build_pipeline

    ev = _t(spark, sf_dir, "events")
    prepped = ev.withColumn(
        "line",
        F.concat_ws(
            ",",
            F.col("event_type"),
            F.col("user_id").cast("string"),
            # RFC-4180 quoting: embedded double-quotes are doubled
            F.concat(F.lit('"'), F.regexp_replace("props", '"', '""'), F.lit('"')),
        ),
    )
    chain = build_pipeline(
        [
            {"decode_csv_fields": {"fields": {"line": "cells"}, "quoted": True}},
            {"extract_array": {"field": "cells",
                               "mappings": {"etype": 0, "uid_s": 1, "props_q": 2}}},
        ]
    )
    return chain(prepped).select("event_id", "etype", "uid_s", "props_q")


_Q_CSV_EXTRACT_SQL = """
SELECT event_id, event_type AS etype,
       CAST(user_id AS VARCHAR) AS uid_s,
       props AS props_q
FROM events
"""


_STREAM_ROUTING = {
    "indices": [
        {"index": "errors", "when": {"equals": {"event_type": "error"}}},
        {"index": "hot", "when": {"range": {"value": {"gte": 400}}}},
    ],
    "default": "main",
}


def _stream_pipe(spark: SparkSession):
    from beats_spark.app import LogPipeline

    return LogPipeline(
        processors=[{"add_fields": {"fields": {"env": "prod"},
                                    "fields_under_root": True}}],
        routing=_STREAM_ROUTING,
        drop_empty_col=None,
    )


def q_streaming_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming face: the same routing config run as an
    availableNow stream with foreachBatch fan-out; per-sink ack counts
    must equal the batch/SQL result (streaming/batch parity)."""
    import tempfile

    from beats_spark.streaming import StreamingLogPipeline
    from beats_spark.streaming.sources import stream_parquet_dir

    tmp = tempfile.mkdtemp(prefix="qstream_")
    # the file stream source wants a directory to watch
    os.makedirs(f"{tmp}/in")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{tmp}/in/events.parquet")
    s = StreamingLogPipeline(
        _stream_pipe(spark), f"{tmp}/sinks", f"{tmp}/cp", counts_dir=f"{tmp}/counts"
    )
    q = s.start(stream_parquet_dir(spark, f"{tmp}/in"))
    q.awaitTermination(300)
    return (
        spark.read.parquet(f"{tmp}/counts")
        .groupBy("sink")
        .agg(F.sum("events_acked").alias("events_acked"))
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrar semantics (§2.10): two resumable runs over the same
    input — the second is fully filtered by committed offsets, so the
    sink table holds each routed event exactly once."""
    import tempfile

    from beats_spark.app import LogPipeline

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("source", F.col("event_type"))
        .withColumn("part_id", F.pmod("user_id", F.lit(4)).cast("int"))
        .withColumn("offset", F.col("event_id").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="qresume_")
    pipe = LogPipeline(
        processors=[{"add_fields": {"fields": {"env": "prod"},
                                    "fields_under_root": True}}],
        routing=_STREAM_ROUTING,
        drop_empty_col=None,
        checkpoint_path=f"{tmp}/cp",
    )
    half = ev.filter(F.col("offset") % 2 == 0)
    pipe.run_batch(spark, half, f"{tmp}/sinks", run_id="r1")
    # second run sees EVERYTHING; resume filter must keep only rows past
    # each (source, part_id)'s committed offset
    pipe.run_batch(spark, ev, f"{tmp}/sinks", run_id="r2")
    out = spark.read.parquet(f"{tmp}/sinks")
    return out.groupBy("sink").agg(
        F.count(F.lit(1)).alias("events"),
        F.count_distinct("event_id").alias("distinct_events"),
    )


_Q_STREAM_FANOUT_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'errors'
            WHEN value >= 400 THEN 'hot'
            ELSE 'main' END AS sink,
       count(*) AS events_acked
FROM events GROUP BY 1
"""

# resume keeps, per (source=event_type, part_id=user_id%4), rows with
# offset > committed max EVEN offset of run 1 — plus all of run 1.
_Q_CHECKPOINT_RESUME_SQL = """
WITH routed AS (
  SELECT event_id, event_type AS source, user_id % 4 AS part_id, event_id AS off,
         CASE WHEN event_type = 'error' THEN 'errors'
              WHEN value >= 400 THEN 'hot'
              ELSE 'main' END AS sink
  FROM events
), committed AS (
  SELECT source, part_id, max(off) AS max_off
  FROM routed WHERE off % 2 = 0 GROUP BY 1, 2
), final AS (
  SELECT r.* FROM routed r WHERE r.off % 2 = 0
  UNION ALL
  SELECT r.event_id, r.source, r.part_id, r.off, r.sink FROM routed r
  LEFT JOIN committed c ON c.source = r.source AND c.part_id = r.part_id
  WHERE r.off % 2 = 1 AND (c.max_off IS NULL OR r.off > c.max_off)
)
SELECT sink, count(*) AS events, count(DISTINCT event_id) AS distinct_events
FROM final GROUP BY sink
"""


def q_pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship_impl(spark, sf_dir)


# ---------------------------------------------------------------------------
# Registry: ONE ordered table. Every consumer selects from it by tag or
# audit opts: ``queries()`` / ``oracle_sql()`` (the driver and
# scripts/oracle_check.py), bench.py (``headline``, ``r2``),
# scripts/explain_audit.py (``audit``) and the sf0.1 gate in
# tests/test_second_scale_oracle.py (``order_sensitive``).
# ---------------------------------------------------------------------------


class Query(NamedTuple):
    """One registry row.

    ``oracle`` is the DuckDB statement, or a zero-arg callable that
    renders it (so importing this module builds no oracle text); a
    query without one names why in ``rows_only``. ``tags`` is a
    space-separated set:

    - ``headline``: timed by bench.py;
    - ``r2``: the round-2 headline set, reported as its own subtotal so
      the headline total (which grew 18 → 99 queries across rounds)
      stays comparable round over round;
    - ``order_sensitive``: rows depend on a global order or range
      boundary, so they are oracle-checked at a second scale (sf0.1);
    - ``needs_reference``: builds from the reference module checkout
      (``module_scripts.REFERENCE_MODULE_ROOT``) and is skipped, with
      its reason, where that is absent (see :func:`skip_reason`).

    ``audit`` holds the plan-audit opts (``broadcast``: an enrichment
    join must broadcast; ``allow_cartesian``: a nested-loop join is
    deliberate); None leaves the query out of the plan-shape rules, but
    not out of the repeated-regex rule, which every row gets."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str] | None
    tags: str = ""
    audit: dict[str, bool] | None = None
    rows_only: str | None = None


# Row order is the driver order: the driver's correctness gate checks
# the FIRST 50 rows. The flagship leads, then the rows that had no
# driver-green row when the window was last rotated (rounds 4-5), down
# to module_system_auth; every row after them has one from r2/r3/r4
# (CORRECTNESS_r0{2,3,4}.json).
REGISTRY: tuple[Query, ...] = (
    # flagship stays first: re-proven every round
    Query("pipeline_flagship", q_pipeline_flagship, _FLAGSHIP_ORACLE,
          "headline r2", audit=dict(broadcast=True)),
    # the 3 r4-red rows (array outputs crashed the driver canon; now
    # md5-signature shaped, commit addf993)
    Query("fim_transform", cq.q_fim_transform, cq._FIM_SQL, "headline", audit={}),
    Query("fim_loss_mask", cq.q_fim_loss_mask, cq._FIM_LOSS_SQL, audit={}),
    Query("span_corrupt", cq.q_span_corrupt, cq._SPANC_SQL, "headline", audit={}),
    # curriculum thresholds embed as plan-build literals — pure narrow
    Query("curriculum_order", cq.q_curriculum_order, cq._CURRICULUM_SQL,
          "headline", audit={}),
    Query("length_buckets", cq.q_length_buckets, cq._LENGTH_BUCKETS_SQL,
          "headline order_sensitive", audit={}),
    Query("pack_seq_boundaries", cq.q_pack_seq_boundaries, cq._PACK_SEQ_BOUND_SQL,
          "headline order_sensitive", audit={}),
    Query("epoch_schedule", cq.q_epoch_schedule, cq._EPOCH_SCHEDULE_SQL,
          "headline", audit={}),
    Query("corpus_report", cq.q_corpus_report, cq._corpus_report_sql,
          "headline", audit={}),
    # hashed classifier is join-free by construction; truncation is a
    # narrow n_tok projection + one hash aggregate
    Query("quality_classifier", cq.q_quality_classifier, cq._QUALITY_CLASSIFIER_SQL,
          "headline", audit={}),
    Query("truncation_stats", cq.q_truncation_stats, cq._TRUNCATION_SQL,
          "headline", audit={}),
    # NB training: one feature hash agg (totals are plan-build
    # literals); the trained-scorer composition must broadcast the
    # vocab-sized weight table into the feature lookup
    Query("nb_weights", cq.q_nb_weights, cq._NB_WEIGHTS_SQL, "headline", audit={}),
    Query("quality_classifier_trained", cq.q_quality_classifier_trained,
          cq._QUALITY_CLASSIFIER_TRAINED_SQL, "headline", audit=dict(broadcast=True)),
    # source drift: #sources totals broadcast, corpus counts equi-join
    Query("source_kl", cq.q_source_kl, cq._SOURCE_KL_SQL,
          "headline", audit=dict(broadcast=True)),
    # incremental dedup: fingerprint + band-key equi-joins only
    Query("dedup_incremental", cq.q_dedup_incremental, cq._DEDUP_INCREMENTAL_SQL,
          "headline", audit={}),
    # fused rule+score report: zero joins, one agg on source
    Query("quality_by_source", cq.q_quality_by_source, cq._QUALITY_BY_SOURCE_SQL,
          "headline", audit={}),
    # BM25: query-term table broadcasts into the postings scoring join
    Query("bm25_topk", cq.q_bm25_topk, cq._BM25_TOPK_SQL,
          "headline", audit=dict(broadcast=True)),
    # per-bin agg + 1-row global agg over the FFD packing
    Query("packing_efficiency", cq.q_packing_efficiency, cq._PACKING_EFFICIENCY_SQL,
          audit={}),
    # score + clamped keep-probability + id-hash draw: one narrow pass
    Query("quality_sample", cq.q_quality_sample, cq._QUALITY_SAMPLE_SQL, audit={}),
    # CC labels resolve EAGERLY at plan build (localCheckpoint rounds);
    # the audited plan is labels ⋈ docs + the split projection
    Query("split_leakage_safe", cq.q_split_leakage_safe, cq._SPLIT_LEAKAGE_SAFE_SQL,
          audit={}),
    # CCNet tercile derivation: per-(lang,range) offsets broadcast into
    # the range-split rank (per-group rank over range-split score
    # boundaries); the vocab feature join broadcasts
    Query("ppl_buckets", cq.q_ppl_buckets, cq._PPL_BUCKETS_SQL,
          "headline order_sensitive", audit=dict(broadcast=True)),
    # id → surface text: the vocab table must broadcast into the
    # exploded token stream
    Query("detokenize", cq.q_detokenize, cq._detokenize_sql,
          "headline", audit=dict(broadcast=True)),
    # gram min-start hash agg + per-doc mask transform — equi-joins only
    Query("repeat_ngram_mask", cq.q_repeat_ngram_mask, cq._repeat_ngram_mask_sql,
          "headline", audit={}),
    # script composition: pure regexp length-deltas, one codegen pass
    Query("script_stats", cq.q_script_stats, cq._SCRIPT_STATS_SQL,
          "headline", audit={}),
    # merge learning is eager at plan build (bpe_apply discipline); the
    # audited plan is one Arrow pass + a doc_id equi-join + #langs agg.
    # Not timed, like bpe_merges/bpe_apply: the plan-build merge
    # learning dominates and token_pipeline's BPE stage covers it.
    Query("bpe_compression", cq.q_bpe_compression, cq._bpe_compression_sql, audit={}),
    Query("compression_ratio", cq.q_compression_ratio, None, "headline",
          rows_only="no zlib in DuckDB"),
    # word explode + ONE doc-keyed hash agg (partial dim-vectors)
    Query("hashed_embedding", cq.q_hashed_embedding, cq._hashed_embedding_sql,
          audit={}),
    # two chained hash aggs: groupBy(text)->count then groupBy(count)
    Query("dup_profile", cq.q_dup_profile, cq._DUP_PROFILE_SQL, "headline", audit={}),
    # distinct (source,fp) + fp-keyed self-equi-join; per-source totals
    # broadcast back in
    Query("source_overlap", cq.q_source_overlap, cq._SOURCE_OVERLAP_SQL,
          "headline", audit=dict(broadcast=True)),
    # fp hash agg + counts joined back on the 32-char fp
    Query("soft_dedup", cq.q_soft_dedup, cq._SOFT_DEDUP_SQL, "headline", audit={}),
    # eager CC at plan build (like neardup_clusters), then two chained
    # hash aggs over (doc, canonical)
    Query("neardup_profile", cq.q_neardup_profile, cq._NEARDUP_PROFILE_SQL,
          "headline", audit={}),
    # LSH pair list equi-joined twice against the (id, split)
    # projection; output ∝ leaking pairs
    Query("split_leakage_report", cq.q_split_leakage_report,
          cq._SPLIT_LEAKAGE_REPORT_SQL, "headline", audit={}),
    # (bucket,shard,batch) hash agg reusing the layout's exchange, then
    # a log-many-row bucket rollup
    Query("padding_stats", cq.q_padding_stats, cq._PADDING_STATS_SQL,
          "headline", audit={}),
    # K-row bucket counts × 1-row total (linear BNLJ on the tiny side,
    # temperature_mix discipline), K-row weights broadcast back
    Query("length_resample", cq.q_length_resample, cq._LENGTH_RESAMPLE_SQL,
          "headline", audit=dict(broadcast=True, allow_cartesian=True)),
    # pure array transform+flatten — must stay Exchange-free
    Query("chat_loss_mask", cq.q_chat_loss_mask, cq._CHAT_LOSS_MASK_SQL,
          "headline", audit={}),
    # ONE prompt-keyed hash agg (combinable min/max-of-struct)
    Query("preference_pairs", cq.q_preference_pairs, cq._PREFERENCE_PAIRS_SQL,
          "headline", audit={}),
    # parse -> filter (narrow) -> text-keyed keep-one agg ->
    # range-partitioned pack; no joins. Ends in pack_sequences'
    # distributed prefix sum.
    Query("log_corpus_bridge", cq.q_log_corpus_bridge, cq._LOG_CORPUS_BRIDGE_SQL,
          "headline order_sensitive", audit={}),
    # bucketed per-source prefix sum (inclusive-cumsum cut line): tiny
    # offsets table broadcast back; per-(source,bucket) windows only
    Query("token_budget_sample", cq.q_token_budget_sample,
          cq._TOKEN_BUDGET_SAMPLE_SQL, "headline order_sensitive",
          audit=dict(broadcast=True)),
    # netflow v5: encode is ONE repartition on packet_id + a batched
    # mapInPandas packer (carry-over keeps packets whole across Arrow
    # batches), decode is a narrow mapInPandas; nothing here may
    # cartesian or BatchEval
    Query("netflow_parse", q_netflow_parse, _netflow_oracle_sql, "headline", audit={}),
    # netflow v9 / ipfix: decode shuffles ONCE on the exporter (the
    # session key — template state must co-locate with its data
    # packets). rec_pos is a per-packet rank; session replay sorts on
    # recv_seq.
    Query("netflow_v9_parse", q_netflow_v9_parse, _netflow_v9_oracle_sql,
          "headline order_sensitive", audit={}),
    Query("ipfix_parse", q_ipfix_parse, lambda: _netflow_v9_oracle_sql(ipfix=True),
          "headline order_sensitive", audit={}),
    # shard export: ONE hash repartition on shard + sortWithinPartitions
    # + a streaming mapInPandas writer — no join anywhere. Shard files
    # are written in sortWithinPartitions order; the stats rows prove
    # the same bytes land at any scale.
    Query("token_shard_export", cq.q_token_shard_export, cq._TOKEN_SHARD_EXPORT_SQL,
          "headline order_sensitive", audit={}),
    # global_pos = broadcast shard offsets + per-shard window rank
    Query("batch_schedule", cq.q_batch_schedule, cq._BATCH_SCHEDULE_SQL,
          "headline order_sensitive"),
    # aggregates over batch_schedule's order-derived (step, rank) cells
    Query("step_token_balance", cq.q_step_token_balance, cq._STEP_TOKEN_BALANCE_SQL,
          "headline order_sensitive"),
    Query("decode_cef", q_decode_cef, _Q_DECODE_CEF_SQL, "headline", audit={}),
    # compiled module pipelines: pure projection chains — no Exchange,
    # no joins, no BatchEvalPython. module_slowlog and module_auditd
    # each carry exactly ONE Arrow-batched node (the documented
    # JS-number-parity / ECS-table kernels).
    Query("module_tidb", q_module_tidb, _Q_MODULE_TIDB_SQL, "headline", audit={}),
    Query("module_slowlog", q_module_slowlog, _Q_MODULE_SLOWLOG_SQL,
          "headline", audit={}),
    # new in r5: the reference's own ingest pipelines, compiled
    Query("module_nginx", q_module_nginx, _Q_MODULE_NGINX_SQL,
          "headline needs_reference", audit={}),
    Query("module_system_syslog", q_module_system_syslog, _Q_MODULE_SYSLOG_SQL,
          "headline needs_reference", audit={}),
    # not timed: its 7-pattern grok ladder over unmatched rows is
    # regex-bound (~10 s at sf0.01 even with the first-match-wins short
    # circuit); the driver gates its correctness instead
    Query("module_system_auth", q_module_system_auth, _Q_MODULE_AUTH_SQL,
          "needs_reference", audit={}),
    # row 50 on: driver-proven in an earlier round
    Query("route_fanout", q_route_fanout, _Q_ROUTE_FANOUT_SQL),
    Query("dissect", q_dissect, _Q_DISSECT_SQL, "headline r2", audit={}),
    Query("json_decode", q_json_decode, _Q_JSON_DECODE_SQL),
    Query("conditions", q_conditions, _Q_CONDITIONS_SQL),
    Query("include_exclude", q_include_exclude, _Q_INCLUDE_EXCLUDE_SQL),
    # per-key order windows
    Query("multiline_pattern", q_multiline_pattern, _Q_MULTILINE_PATTERN_SQL,
          "headline r2 order_sensitive", audit={}),
    Query("multiline_count", q_multiline_count, _Q_MULTILINE_COUNT_SQL),
    Query("rate_limit", q_rate_limit, _Q_RATE_LIMIT_SQL, "headline r2", audit={}),
    Query("rate_limit_salted", q_rate_limit_salted, _Q_RATE_LIMIT_SQL, audit={}),
    Query("token_bucket", q_token_bucket, _Q_TOKEN_BUCKET_SQL, "headline", audit={}),
    Query("enrich_lookup", q_enrich_lookup, _Q_ENRICH_LOOKUP_SQL,
          "headline r2", audit=dict(broadcast=True)),
    Query("enrich_asof", q_enrich_asof, _Q_ENRICH_ASOF_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("enrich_asof_merge", q_enrich_asof_merge, _Q_ENRICH_ASOF_SQL, audit={}),
    # per-key order windows
    Query("sessionize", q_sessionize, _Q_SESSIONIZE_SQL,
          "headline order_sensitive", audit={}),
    Query("session_agg", q_session_agg, _Q_SESSION_AGG_SQL, audit={}),
    Query("window_percentiles", q_window_percentiles, _Q_WINDOW_PERCENTILES_SQL,
          "headline", audit={}),
    Query("dns_enrich", q_dns_enrich, _Q_DNS_ENRICH_SQL, audit=dict(broadcast=True)),
    Query("fingerprint", q_fingerprint, _Q_FINGERPRINT_SQL, "headline r2"),
    Query("mutations", q_mutations, _Q_MUTATIONS_SQL),
    Query("codec_fields", q_codec_fields, _Q_CODEC_FIELDS_SQL),
    Query("convert_timestamp", q_convert_timestamp, _Q_CONVERT_TIMESTAMP_SQL),
    Query("network_direction", q_network_direction, _Q_NETWORK_DIRECTION_SQL),
    Query("syslog_parse", q_syslog_parse, _syslog_parse_sql, "headline", audit={}),
    Query("grok_parse", q_grok_parse, _Q_GROK_PARSE_SQL, "headline", audit={}),
    Query("journald_parse", q_journald_parse, _Q_JOURNALD_PARSE_SQL,
          "headline", audit={}),
    Query("sink_triage", q_sink_triage, _Q_SINK_TRIAGE_SQL, audit={}),
    Query("window_agg", q_window_agg, _Q_WINDOW_AGG_SQL, "headline r2", audit={}),
    Query("csv_extract", q_csv_extract, _Q_CSV_EXTRACT_SQL, "headline r2", audit={}),
    Query("streaming_fanout", q_streaming_fanout, _Q_STREAM_FANOUT_SQL),
    Query("checkpoint_resume", q_checkpoint_resume, _Q_CHECKPOINT_RESUME_SQL),
    Query("module_postgresql", q_module_postgresql, _Q_MODULE_POSTGRESQL_SQL,
          "needs_reference", audit={}),
    Query("module_auditd", q_module_auditd, _Q_MODULE_AUDITD_SQL,
          "needs_reference", audit={}),
    Query("dedup_exact", cq.q_dedup_exact, cq._DEDUP_EXACT_SQL,
          "headline r2", audit={}),
    Query("text_stats", cq.q_text_stats, cq._text_stats_sql, "headline r2", audit={}),
    Query("quality_filters", cq.q_quality_filters, cq._quality_filters_sql,
          "headline", audit={}),
    Query("lm_score", cq.q_lm_score, cq._LM_SCORE_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("lm_score_bigram", cq.q_lm_score_bigram, cq._LM_SCORE_BIGRAM_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("lm_score_lang", cq.q_lm_score_lang, cq._LM_SCORE_LANG_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("dsir_weights", cq.q_dsir_weights, cq._DSIR_WEIGHTS_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("lang_id", cq.q_lang_id, cq._lang_id_sql),
    Query("doc_fingerprint", cq.q_doc_fingerprint, cq._DOC_FINGERPRINT_SQL),
    Query("winnow_fp", cq.q_winnow_fp, cq._WINNOW_FP_SQL, audit={}),
    Query("winnow_neardup", cq.q_winnow_neardup, cq._WINNOW_NEARDUP_SQL,
          "headline", audit={}),
    Query("simhash", cq.q_simhash, cq._SIMHASH_SQL, "headline r2"),
    Query("minhash_neardup", cq.q_minhash_neardup, cq._MINHASH_NEARDUP_SQL,
          "headline r2", audit={}),
    Query("neardup_clusters", cq.q_neardup_clusters, cq._NEARDUP_CLUSTERS_SQL,
          "headline", audit={}),
    Query("neardup_survivors", cq.q_neardup_survivors, cq._NEARDUP_SURVIVORS_SQL,
          audit={}),
    Query("neardup_survivors_best", cq.q_neardup_survivors_best,
          cq._NEARDUP_SURVIVORS_BEST_SQL),
    Query("ngram_jaccard", cq.q_ngram_jaccard, cq._NGRAM_JACCARD_SQL),
    Query("simhash_neardup", cq.q_simhash_neardup, cq._SIMHASH_NEARDUP_SQL),
    # gated exact APIs: at the audit sf (0.01, 500 vectors) the auto
    # gate picks the cross join — the deliberate small-n fast path; the
    # blocked twins prove the scale plan is cartesian-free (that is
    # their whole point)
    Query("embedding_topk", cq.q_embedding_topk, cq._EMBEDDING_TOPK_SQL,
          "headline r2", audit=dict(allow_cartesian=True)),
    Query("embedding_topk_blocked", cq.q_embedding_topk_blocked,
          cq._EMBEDDING_TOPK_SQL, "headline r2", audit={}),
    Query("embedding_neardup", cq.q_embedding_neardup, cq._EMBEDDING_NEARDUP_SQL,
          audit=dict(allow_cartesian=True)),
    Query("embedding_neardup_blocked", cq.q_embedding_neardup_blocked,
          cq._EMBEDDING_NEARDUP_SQL, "headline r2", audit={}),
    Query("ann_lsh", cq.q_ann_lsh, cq._ann_lsh_sql, "headline r2", audit={}),
    Query("ann_ivf", cq.q_ann_ivf, cq._ann_ivf_sql, "headline r2", audit={}),
    Query("ann_ivf_sqrtn", cq.q_ann_ivf_sqrtn, lambda: cq._ann_ivf_sql(45),
          "headline r2", audit={}),
    Query("ann_ivf_nprobe", cq.q_ann_ivf_nprobe,
          lambda: cq._ann_ivf_sql(45, nprobe=3), "headline", audit={}),
    Query("ann_ivf_pq", cq.q_ann_ivf_pq, cq._ann_ivf_pq_sql, "headline", audit={}),
    Query("ann_ivf_pq_nprobe", cq.q_ann_ivf_pq_nprobe,
          lambda: cq._ann_ivf_pq_sql(nprobe=3), "headline", audit={}),
    Query("ann_ivf_pq_rerank", cq.q_ann_ivf_pq_rerank,
          lambda: cq._ann_ivf_pq_sql(nprobe=3, rerank=4), "headline", audit={}),
    Query("semantic_dedup", cq.q_semantic_dedup, cq._semantic_dedup_sql,
          "headline", audit={}),
    Query("dedup_tokens", cq.q_dedup_tokens, cq._DEDUP_TOKENS_SQL, audit={}),
    Query("pii_redact", cq.q_pii_redact, cq._pii_redact_sql, audit={}),
    Query("hash_sample", cq.q_hash_sample, cq._HASH_SAMPLE_SQL),
    # range partitioning
    Query("shuffle_shards", cq.q_shuffle_shards, cq._SHUFFLE_SHARDS_SQL,
          "order_sensitive", audit={}),
    Query("mix_sources", cq.q_mix_sources, cq._MIX_SOURCES_SQL),
    # temperature mixing joins a ONE-ROW global aggregate back via
    # crossJoin(broadcast(...)) — Spark plans a scalar-dim
    # BroadcastNestedLoopJoin, which is linear (n × 1), not quadratic;
    # the per-source rate dim itself is a BroadcastHashJoin
    Query("temperature_mix", cq.q_temperature_mix, cq._TEMPERATURE_MIX_SQL,
          "headline", audit=dict(broadcast=True, allow_cartesian=True)),
    Query("temperature_rates", cq.q_temperature_rates, cq._TEMPERATURE_RATES_SQL,
          audit=dict(allow_cartesian=True)),
    # broadcast-GEMM decontamination is a single narrow mapInPandas — no
    # join at all; the audit just proves no cartesian/BatchEval crept in
    Query("semantic_decontaminate", cq.q_semantic_decontaminate,
          cq._SEMANTIC_DECON_SQL, "headline", audit={}),
    Query("pack_training_meta", cq.q_pack_training_meta, cq._PACK_META_SQL,
          "headline order_sensitive", audit={}),
    Query("line_dedup", cq.q_line_dedup, cq._LINE_DEDUP_SQL, "headline", audit={}),
    Query("line_dedup_within", cq.q_line_dedup_within, cq._LINE_DEDUP_WITHIN_SQL,
          "headline", audit={}),
    Query("substring_dedup", cq.q_substring_dedup, cq._SUBSTRING_DEDUP_SQL,
          "headline", audit={}),
    Query("substring_dedup_tokens", cq.q_substring_dedup_tokens,
          cq._SUBSTRING_DEDUP_TOKENS_SQL, "headline", audit={}),
    Query("minhash_neardup_tokens", cq.q_minhash_neardup_tokens,
          cq._MINHASH_NEARDUP_TOKENS_SQL, "headline", audit={}),
    Query("decontaminate", cq.q_decontaminate, cq._DECONTAMINATE_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("decontaminate_report", cq.q_decontaminate_report,
          cq._DECONTAMINATE_REPORT_SQL, audit=dict(broadcast=True)),
    Query("decontaminate_spans", cq.q_decontaminate_spans, cq._DECONTAMINATE_SPANS_SQL,
          "headline", audit=dict(broadcast=True)),
    Query("decontaminate_spans_tokens", cq.q_decontaminate_spans_tokens,
          cq._DECONTAMINATE_SPANS_TOKENS_SQL, "headline", audit=dict(broadcast=True)),
    # packing: distributed prefix sums
    Query("pack_sequences", cq.q_pack_sequences, cq._PACK_SEQUENCES_SQL,
          "headline order_sensitive", audit={}),
    Query("chunk_tokens", cq.q_chunk_tokens, cq._CHUNK_TOKENS_SQL, "headline", audit={}),
    Query("top_ngram", cq.q_top_ngram, cq._TOP_NGRAM_SQL, "headline", audit={}),
    Query("pack_sequences_sig", cq.q_pack_sequences_sig, cq._PACK_SEQUENCES_SIG_SQL),
    Query("split_assign", cq.q_split_assign, cq._SPLIT_ASSIGN_SQL, audit={}),
    Query("vocab_histogram", cq.q_vocab_histogram, cq._VOCAB_HISTOGRAM_SQL, audit={}),
    Query("token_bigrams", cq.q_token_bigrams, cq._TOKEN_BIGRAMS_SQL, audit={}),
    Query("token_stats", cq.q_token_stats, cq._TOKEN_STATS_SQL, "headline", audit={}),
    Query("bpe_merges", cq.q_bpe_merges, cq._bpe_merges_sql),
    Query("bpe_apply", cq.q_bpe_apply, cq._bpe_apply_sql, audit={}),
    Query("token_pipeline", cq.q_token_pipeline, cq._TOKEN_PIPELINE_SQL,
          "headline", audit={}),
    Query("winnow_neardup_tokens", cq.q_winnow_neardup_tokens,
          cq._WINNOW_NEARDUP_TOKENS_SQL, "headline", audit={}),
    Query("pack_bins", cq.q_pack_bins, cq._PACK_BINS_SQL,
          "headline order_sensitive", audit={}),
    Query("pack_bins_sequences", cq.q_pack_bins_sequences, cq._PACK_BINS_SEQ_SQL,
          "headline order_sensitive", audit={}),
    Query("sample_per_source", cq.q_sample_per_source, cq._SAMPLE_PER_SOURCE_SQL,
          audit={}),
    Query("vocab_coverage", cq.q_vocab_coverage, cq._VOCAB_COVERAGE_SQL, audit={}),
    # composed cleaning pipeline: the decon benchmark broadcast runs
    # EAGERLY inside the stage materialization (localCheckpoint), so the
    # audited final plan starts from the checkpointed RDD; its only
    # remaining join is survivors ⋈ docs on doc_id — correctly a
    # shuffle join (the survivor set is ~corpus-sized; broadcasting it
    # would be the 100 TB bug). decontaminate's own broadcast is
    # audited on its row.
    Query("corpus_pipeline", cq.q_corpus_pipeline, cq._corpus_pipeline_sql,
          "headline", audit={}),
    Query("corpus_pipeline_funnel", cq.q_corpus_pipeline_funnel,
          cq._corpus_pipeline_funnel_sql, audit={}),
)


def rows(tag: str) -> list[Query]:
    """The registry rows carrying ``tag``, in registry order."""
    return [r for r in REGISTRY if tag in r.tags.split()]


def skip_reason(row: Query) -> str | None:
    """Why ``row`` cannot build on this host, or None when it can."""
    from beats_spark import module_scripts

    root = module_scripts.REFERENCE_MODULE_ROOT
    if "needs_reference" in row.tags.split() and not os.path.isdir(root):
        return f"reference module checkout {root} not present"
    return None


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {r.name: r.build for r in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {
        r.name: r.oracle if isinstance(r.oracle, str) else r.oracle()
        for r in REGISTRY
        if r.oracle is not None
    }
