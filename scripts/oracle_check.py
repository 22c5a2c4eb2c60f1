"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
same scale factor, compare row count, column names, and
order-insensitive values.

Usage: python scripts/oracle_check.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, bool):
        return str(v)
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def duck_con(sf_dir: str):
    """DuckDB connection with the driver's table views registered."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_query(spark, con, name: str, sf_dir: str, qs=None,
                  oracles=None, info: dict | None = None) -> str | None:
    """Run one registry query on Spark and its oracle on DuckDB;
    return None on match, else a failure description (the same
    count/cols/value-hash comparison the driver gate runs). This is
    THE comparison — ``main`` and the second-scale CI gate
    (tests/test_second_scale_oracle.py) both call it, so a fix here
    reaches both. ``info`` (optional dict) receives ``rows`` and
    ``rows_only`` for the caller's reporting."""
    import __spark_entry__ as entry

    if info is None:
        info = {}
    qs = qs if qs is not None else entry.queries()
    oracles = oracles if oracles is not None else entry.oracle_sql()
    try:
        sdf = qs[name](spark, sf_dir)
        scols = list(sdf.columns)
        srows = sdf.collect()
    except Exception as e:
        return f"spark error: {e}"
    info["rows"] = len(srows)
    if name not in oracles:
        info["rows_only"] = True
        return None  # rows-only query: ran without error
    info["rows_only"] = False
    try:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        return f"duckdb error: {str(e)[:300]}"
    sc, sv = norm_rows(scols, [tuple(r) for r in srows])
    dc, dv = norm_rows(dcols, drows)
    status = []
    if len(sv) != len(dv):
        status.append(f"rowcount spark={len(sv)} duck={len(dv)}")
    if sc != dc:
        status.append(f"cols spark={sc} duck={dc}")
    if not status and sv != dv:
        diff = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
        dset = set(dv)
        s_only = [r for r in sv[:2000] if r not in dset][:3]
        status.append(f"values differ; first diffs={diff} spark_only={s_only}")
    return "; ".join(status) if status else None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from beats_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)

    con = duck_con(sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for row in entry.REGISTRY:
        name = row.name
        if only and name not in only:
            continue
        why = entry.skip_reason(row)
        if why:
            print(f"skip {name}: {why}")
            continue
        t0 = time.time()
        info: dict = {}
        err = compare_query(spark, con, name, sf_dir, qs=qs,
                            oracles=oracles, info=info)
        if err:
            failures.append(name)
            print(f"FAIL {name}: {err}")
        elif info.get("rows_only"):
            print(f"ok   {name}: rows-only ({info['rows']} rows, {time.time()-t0:.1f}s)")
        else:
            print(f"ok   {name}: {info['rows']} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
