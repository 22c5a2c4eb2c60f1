"""The benchmark's own tests: seeded inputs, output checks that catch a
corrupted result, a ledger whose self times add up, and the runner's
contract with BENCHMARK.json.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pytest

from perfbench import inputs, oracles, run
from perfbench.workloads import WORKLOADS, Ctx, Flagship, IngestModule, KeyedUdf, SinkResume

ROOT = run.ROOT


def small(cls, ctx, tmp_path, rows, seed=7):
    """A prepared workload of ``rows`` rows in its own directory."""
    wl = cls()
    wl.rows = rows
    c = Ctx(ctx.spark, str(tmp_path), seed, ctx.tracer)
    wl.prepare(c)
    return wl, c


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

#: per table: (generator, SQL for a row's kind, tolerance on each kind's share)
MIXES = {
    "events": (inputs.events, "regexp_extract(message, '^level=(\\w+)', 1)", 0.04),
    "events-source": (inputs.events, "source", 0.0),
    "access_lines": (inputs.access_lines, """CASE
        WHEN message LIKE 'garbage%' THEN 'garbage'
        WHEN message LIKE '%31/Feb%' THEN 'bad-date'
        WHEN message LIKE '%"-" 400 0' THEN 'short' ELSE 'full' END""", 0.03),
    "stack_lines": (inputs.stack_lines, "message LIKE 'ERR%'", 0.04),
}


def _digest(path: str) -> str:
    """Order-independent content digest of a parquet table."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT md5(string_agg(h, '' ORDER BY h)) FROM "
            "(SELECT md5(CAST(t AS VARCHAR)) AS h FROM read_parquet(?) t)",
            [f"{path}/*.parquet"]).fetchone()[0]
    finally:
        con.close()


def _shares(path: str, kind: str) -> dict:
    con = duckdb.connect()
    try:
        rows = con.execute(f"SELECT {kind}, count(*) FROM read_parquet('{path}/*.parquet') "
                           "GROUP BY ALL").fetchall()
    finally:
        con.close()
    total = sum(n for _, n in rows)
    return {k: n / total for k, n in rows}


@pytest.mark.parametrize("table", sorted(MIXES))
def test_seed_fixes_rows_and_not_mix(ctx, tmp_path, table):
    make, kind, tol = MIXES[table]
    paths = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        paths[tag] = str(tmp_path / tag)
        make(ctx.spark, seed, 4000).write.parquet(paths[tag])
    assert _digest(paths["a"]) == _digest(paths["b"])
    assert _digest(paths["a"]) != _digest(paths["c"])
    a, c = _shares(paths["a"], kind), _shares(paths["c"], kind)
    assert a.keys() == c.keys()
    for k in a:
        assert abs(a[k] - c[k]) <= tol + 1e-9, (k, a[k], c[k])


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _run(wl, c):
    """One run's outputs: the full batch, and its resume if it has one."""
    wl.reset(c)
    full = wl.full(c)
    return full, (wl.incremental(c, full) if wl.resumes else None)


def test_flagship_check_rejects_corruption(ctx, tmp_path):
    wl, c = small(Flagship, ctx, tmp_path, 4000)
    full, _ = _run(wl, c)
    assert wl.check(c, full) == []
    rows = [tuple(r) for r in full]
    bumped = [(*rows[0][:4], rows[0][4] + 1)] + rows[1:]
    assert wl.check(c, bumped)
    assert wl.check(c, rows[1:])


def test_sink_check_rejects_corruption(ctx, tmp_path):
    wl, c = small(SinkResume, ctx, tmp_path / "wl", 4000)
    full, inc = _run(wl, c)
    assert wl.check(c, full, inc) == []
    d = wl.dirs(c)

    acked = {**full, "sink_counts": {**full["sink_counts"]}}
    sink = next(iter(acked["sink_counts"]))
    acked["sink_counts"][sink] += 1
    assert wl.check(c, acked, inc)

    sinks = str(tmp_path / "sinks")
    shutil.copytree(d["sinks"], sinks)
    victim = next(os.path.join(p, f) for p, _, fs in os.walk(sinks)
                  for f in fs if f.endswith(".parquet"))
    os.remove(victim)
    assert oracles.check_sink(sinks, d["checkpoint"], wl.want)

    checkpoint = str(tmp_path / "checkpoint")
    shutil.copytree(d["checkpoint"], checkpoint)
    con = duckdb.connect()
    try:  # a later commit that moves one stream's offset back
        con.execute(f"""COPY (SELECT * REPLACE (committed_offset - 1 AS committed_offset,
                                          updated_at + INTERVAL 1 HOUR AS updated_at)
                              FROM read_parquet('{checkpoint}/*.parquet') LIMIT 1)
                        TO '{checkpoint}/tampered.parquet' (FORMAT parquet)""")
    finally:
        con.close()
    assert oracles.check_sink(d["sinks"], checkpoint, wl.want)


def test_ingest_check_rejects_corruption(ctx, tmp_path):
    wl, c = small(IngestModule, ctx, tmp_path, 3000)
    full, _ = _run(wl, c)
    assert wl.check(c, full) == []
    assert 0 < full["failed"] < full["total"]
    assert wl.check(c, {**full, "k0": full["k0"] + 1})
    assert wl.check(c, {**full, "total": full["total"] - 1})
    assert wl.check(c, {**full, "failed": full["failed"] + 1})


def test_keyed_check_rejects_corruption(ctx, tmp_path):
    wl, c = small(KeyedUdf, ctx, tmp_path, 8000)
    full, _ = _run(wl, c)
    assert wl.check(c, full) == []
    rows = [tuple(r) for r in full]
    assert wl.check(c, [(*rows[0][:2], rows[0][2] + 1)] + rows[1:])


def test_token_bucket_oracle_by_hand():
    # depth 1, refill 1/min: admitted at 0 s, refused at 30 s, admitted
    # at 90 s; the other key starts full
    events = [("a", 0, 0), ("a", 0, 30), ("a", 0, 90), ("b", 1, 10)]
    assert oracles.token_bucket_admitted(events, 1) == {("a", 0): 2, ("b", 1): 1}


# ---------------------------------------------------------------------------
# the ledger
# ---------------------------------------------------------------------------


def _untraced(wl, c, n: int) -> float:
    """Median seconds of ``n`` untraced full runs."""
    times = []
    for _ in range(n):
        wl.reset(c)
        t0 = time.perf_counter()
        wl.full(c)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


#: share of the untraced run that host noise may add to the difference
#: between two independent medians of a few small runs
NOISE = 0.25


@pytest.mark.parametrize("cls", [Flagship, KeyedUdf, IngestModule, SinkResume])
def test_ledger_self_times_add_up_to_untraced_run(ctx, tmp_path, cls):
    wl, c = small(cls, ctx, tmp_path, 4000)
    _run(wl, c)  # warm-up
    # the overhead as a traced run reports it: the traced full run
    # against one set of untraced runs ...
    before = _untraced(wl, c, 3)
    self_times, prefix, _ = run.ledger(c, wl, 0, own=True, min_rounds=3)
    overhead = statistics.median(list(prefix.values())[-1]) - before
    # ... and the sum of the layers' median self times against another
    after = _untraced(wl, c, 3)
    total = sum(statistics.median(v) for v in self_times.values())
    assert abs(total - after) <= abs(overhead) + NOISE * after, (total, after, overhead)
    assert wl.problems == []


# ---------------------------------------------------------------------------
# the runner's contract
# ---------------------------------------------------------------------------


def test_benchmark_json_declares_what_the_runner_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())

    values = {name: 1.0 for name in e2e}
    assert list(run.report(values, trace=False)) == list(e2e)
    with pytest.raises(KeyError):
        run.report({**values, "undeclared": 1.0}, trace=False)
    del values["events_per_cpu_s"]
    with pytest.raises(KeyError):
        run.report(values, trace=False)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "flagship",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
