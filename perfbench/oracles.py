"""Independent reference computations for every workload's output.

Each oracle reads the same parquet input with DuckDB (and, for the
token bucket, plain Python) and derives the expected result from the
workload's specification, not from the package's code. Each ``check_*``
returns a list of mismatch descriptions; an empty list means the run's
output is correct.
"""

from __future__ import annotations

from collections import Counter

import duckdb

_DISSECT = r'^level=(.*?) ts=(.*?) caller=(.*?) msg="(.*?)"$'


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def diff(what: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    shown = ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in bad[:3])
    return [f"{what}: {len(bad)} of {len(keys)} keys differ ({shown})"]


# ---------------------------------------------------------------------------
# flagship + sink_resume: dissect -> drop debug -> host lookup -> route
# ---------------------------------------------------------------------------


def _routed_sql(path: str) -> str:
    return f"""
        WITH ev AS (
            SELECT source, part_id, "offset", ts,
                   CASE WHEN regexp_matches(message, '{_DISSECT}')
                        THEN regexp_extract(message, '{_DISSECT}', 1) END AS level
            FROM read_parquet('{path}/*.parquet')
        )
        SELECT ev.*, CASE
                 WHEN level = 'error' THEN 'errors-' || strftime(ts, '%Y.%m.%d')
                 WHEN level IS NOT NULL AND d.env IS NOT NULL
                     THEN 'logs-' || d.env || '-' || level
                 ELSE 'dead-letter' END AS sink
        FROM ev LEFT JOIN dim d USING (source)
        WHERE level IS DISTINCT FROM 'debug'
    """


def _with_dim(con, dim_rows: list[tuple[str, str]]) -> None:
    con.execute("CREATE TABLE dim (source VARCHAR, env VARCHAR)")
    con.executemany("INSERT INTO dim VALUES (?, ?)", dim_rows)


def flagship_expected(path: str, dim_rows: list[tuple[str, str]]) -> Counter:
    """Per (sink, source, level, hour) event counts."""
    con = _con()
    try:
        _with_dim(con, dim_rows)
        rows = con.execute(f"""
            SELECT sink, source, level, date_trunc('hour', ts), count(*)
            FROM ({_routed_sql(path)}) GROUP BY ALL""").fetchall()
    finally:
        con.close()
    return Counter({tuple(r[:4]): r[4] for r in rows})


def check_flagship(got_rows, want: Counter) -> list[str]:
    got = Counter({(r[0], r[1], r[2], r[3]): r[4] for r in got_rows})
    return diff("aggregate (sink, source, level, hour)", dict(got), dict(want))


def sink_expected(path: str, dim_rows, cut: int) -> dict:
    """Per (sink, run) row counts for a first run over ``offset < cut``
    and a resume over everything, plus the offset each (source, part_id)
    must have committed after the resume."""
    con = _con()
    try:
        _with_dim(con, dim_rows)
        counts = con.execute(f"""
            SELECT sink, CASE WHEN "offset" < {cut} THEN 'first' ELSE 'resume' END, count(*)
            FROM ({_routed_sql(path)}) GROUP BY ALL""").fetchall()
        offsets = con.execute(f"""
            SELECT source, part_id, max("offset") FROM read_parquet('{path}/*.parquet')
            GROUP BY ALL""").fetchall()
    finally:
        con.close()
    return {"sinks": {(s, r): n for s, r, n in counts},
            "offsets": {(s, p): o for s, p, o in offsets}}


def check_sink(sink_dir: str, checkpoint: str, want: dict) -> list[str]:
    """Read the written sink partitions (run ids ``first`` and
    ``resume``) and the checkpoint back from disk."""
    con = _con()
    try:
        rows = con.execute(f"""
            SELECT sink, run_id, count(*) FROM read_parquet('{sink_dir}/**/*.parquet',
                hive_partitioning = true, hive_types_autocast = false)
            GROUP BY ALL""").fetchall()
        commits = con.execute(f"""
            SELECT source, part_id, committed_offset
            FROM read_parquet('{checkpoint}/*.parquet')
            QUALIFY row_number() OVER (PARTITION BY source, part_id
                                       ORDER BY updated_at DESC, committed_offset DESC) = 1
            """).fetchall()
    finally:
        con.close()
    got_sinks = {(s, r): n for s, r, n in rows}
    got_offsets = {(s, p): o for s, p, o in commits}
    return (diff("sink partition rows", got_sinks, want["sinks"])
            + diff("committed offsets", got_offsets, want["offsets"]))


# ---------------------------------------------------------------------------
# ingest_module: nginx access lines through the ingest definition
# ---------------------------------------------------------------------------

_HEAD = r'^(\S+) - (\S+) \[(\d\d/\w{3}/\d{4}:\d\d:\d\d:\d\d [+-]\d{4})\] '
_FULL = _HEAD + r'"(\w+) (\S*) HTTP/([\d.]+)" (\d+) (\d+) "([^"]*)" "([^"]*)"$'
_SHORT = _HEAD + r'"([^"]*)" (\d+) (\d+)$'
GROK_FAILED = "Provided Grok expressions do not match field value"


def ingest_expected(path: str) -> Counter:
    """Per (log.level, error.message, event.outcome) document counts."""
    con = _con()
    try:
        rows = con.execute(f"""
            WITH m AS (
                SELECT regexp_matches(message, '{_FULL}') AS is_full,
                       regexp_matches(message, '{_SHORT}') AS is_short, message
                FROM read_parquet('{path}/*.parquet')
            ), f AS (
                SELECT is_full OR is_short AS parsed,
                       TRY_CAST(CASE WHEN is_full THEN regexp_extract(message, '{_FULL}', 7)
                                 ELSE regexp_extract(message, '{_SHORT}', 5) END AS BIGINT)
                           AS status,
                       CASE WHEN is_full THEN regexp_extract(message, '{_FULL}', 5) END AS url,
                       try_strptime(regexp_extract(message, '{_HEAD}', 3),
                                    '%d/%b/%Y:%H:%M:%S %z') IS NULL AS bad_date
                FROM m
            )
            SELECT CASE WHEN NOT parsed THEN NULL
                        WHEN status >= 500 THEN 'error'
                        WHEN status >= 400 THEN 'warn' ELSE 'info' END,
                   CASE WHEN NOT parsed THEN '{GROK_FAILED}' END,
                   CASE WHEN parsed AND bad_date THEN 'date_unparsed' END,
                   count(*)
            FROM f WHERE NOT (parsed AND url IS NOT DISTINCT FROM '/healthz')
            GROUP BY ALL""").fetchall()
    finally:
        con.close()
    return Counter({tuple(r[:3]): r[3] for r in rows})


def check_ingest(got_rows, want: Counter) -> list[str]:
    got = Counter({tuple(r[:3]): r[3] for r in got_rows})
    return diff("documents per (level, error, outcome)", dict(got), dict(want))


# ---------------------------------------------------------------------------
# keyed_udf: multiline merge -> event-time token bucket per stream
# ---------------------------------------------------------------------------

ML_PATTERN = r"^\s+at "


def multiline_events(path: str) -> list[tuple[str, int, int]]:
    """(source, part_id, first offset) of each merged event: a line
    starts an event unless it is an indented frame; a stream's first
    line always starts one."""
    con = _con()
    try:
        return con.execute(f"""
            WITH l AS (
                SELECT source, part_id, "offset",
                       NOT regexp_matches(message, '{ML_PATTERN}')
                       OR row_number() OVER w = 1 AS starts
                FROM read_parquet('{path}/*.parquet')
                WINDOW w AS (PARTITION BY source, part_id ORDER BY "offset")
            ), g AS (
                SELECT *, sum(starts::INT) OVER (PARTITION BY source, part_id
                    ORDER BY "offset" ROWS UNBOUNDED PRECEDING) AS grp FROM l
            )
            SELECT source, part_id, min("offset") FROM g GROUP BY source, part_id, grp
            """).fetchall()
    finally:
        con.close()


def token_bucket_admitted(events: list[tuple[str, int, int]], per_minute: int) -> Counter:
    """Admitted events per key. A bucket of depth ``per_minute`` starts
    full at a key's first event and refills continuously in event time;
    an event takes one token and is dropped when less than one is left.
    An event's time is its first line's offset in seconds. Arithmetic is
    in microseconds, in the order the kernel specifies."""
    rate_per_us = per_minute / (60.0 * 1e6)
    depth = float(per_minute)
    by_key: dict[tuple, list[tuple[float, int]]] = {}
    for source, part, off in events:
        by_key.setdefault((source, part), []).append((float(off) * 1e6, off))
    admitted: Counter = Counter()
    for key, evs in by_key.items():
        evs.sort()
        tokens, last = depth, evs[0][0]
        for t, _ in evs:
            if t > last:
                tokens = min(depth, tokens + (t - last) * rate_per_us)
                last = t
            if tokens >= 1.0:
                tokens -= 1.0
                admitted[key] += 1
    return admitted


def check_keyed(got_rows, want: Counter) -> list[str]:
    got = {(r[0], r[1]): r[2] for r in got_rows}
    return diff("admitted events per (source, part_id)", got, dict(want))
