"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ledger, and the spans are
written to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: set-ups per run: the first in a fresh JVM, the others in fresh
#: contexts of that JVM; ``setup_s`` is their median
SETUPS = 3
#: untimed (but checked) runs between the set-ups and the timed loop:
#: the JIT keeps compiling for several runs, and a run's CPU seconds
#: fall by a quarter before they settle
WARMUP_RUNS = 3
#: timed runs per run, at least, however short ``--seconds``
MIN_RUNS = 3
#: rows of a chain traced for another workload, at most
SIDE_ROWS = 20_000


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runs:
    """Times and outcomes of the runs of one process."""

    def __init__(self):
        self.full: list[float] = []
        self.full_cpu: list[float] = []
        self.resume: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, wl, ctx) -> tuple[float, float, float] | None:
        """One checked run: the full batch and, for a workload that
        resumes, its resume. Returns the full batch's wall and CPU
        seconds and the resume's wall seconds, or None when the run
        raised or failed its check."""
        from perfbench import harness

        wl.reset(ctx)
        self.attempted += 1
        try:
            c0, t0 = harness.tree_cpu_seconds(os.getpid()), time.perf_counter()
            full_out = wl.full(ctx)
            t1, c1 = time.perf_counter(), harness.tree_cpu_seconds(os.getpid())
            inc_out = wl.incremental(ctx, full_out) if wl.resumes else None
            t2 = time.perf_counter()
            bad = wl.check(ctx, full_out, inc_out)
        except Exception:  # a failed run is counted, not fatal
            bad = [traceback.format_exc(limit=3)]
        if bad:
            self.failed += 1
            self.problems.extend(bad)
            return None
        return t1 - t0, c1 - c0, t2 - t1

    def record(self, problems: list[str]) -> None:
        """One checked result produced outside a run."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def set_ups(ctx, wl, runs: Runs, session: tuple[float, float],
            count: int) -> tuple[list[float], list[float]]:
    """``count`` set-ups, each a session start and its first (cold) run:
    the session already started, whose (wall, CPU) seconds are
    ``session``, then fresh contexts of the same JVM. Returns the wall
    and the CPU seconds of those whose run passed."""
    from perfbench import harness

    walls, cpus = [], []
    for k in range(count):
        if k:
            c0, t0 = harness.tree_cpu_seconds(os.getpid()), time.perf_counter()
            ctx.spark = harness.restart_session(ctx.spark, ROOT, ctx.work)
            session = (time.perf_counter() - t0, harness.tree_cpu_seconds(os.getpid()) - c0)
        with ctx.tracer.span("setup", context=k):
            c0, t0 = harness.tree_cpu_seconds(os.getpid()), time.perf_counter()
            if runs.run(wl, ctx) is not None:
                walls.append(session[0] + time.perf_counter() - t0)
                cpus.append(session[1] + harness.tree_cpu_seconds(os.getpid()) - c0)
    return walls, cpus


def timed(args, ctx, wl, runs: Runs) -> dict:
    """WARMUP_RUNS untimed runs, then runs until ``--seconds`` have
    passed (at least MIN_RUNS), with the memory of the JVM and its
    Python workers sampled throughout."""
    from perfbench import harness

    with ctx.tracer.span("warmup"):
        for _ in range(WARMUP_RUNS):
            runs.run(wl, ctx)
    with harness.MemorySampler(harness.jvm_pid(ctx.spark)) as mem:
        deadline = time.perf_counter() + args.seconds
        tries = 0
        while time.perf_counter() < deadline or tries < MIN_RUNS:
            tries += 1
            took = runs.run(wl, ctx)
            if took is not None:
                runs.full.append(took[0])
                runs.full_cpu.append(took[1])
                if wl.resumes:
                    runs.resume.append(took[2])
    return {
        "events_per_cpu_s": wl.run_events / statistics.median(runs.full_cpu),
        "peak_rss_mb": mem.peak / 2**20,
    }


def ledger(ctx, chain, seconds: float, own: bool,
           min_rounds: int = 1) -> tuple[dict, dict, dict]:
    """Rounds of the chain's prefix runs: at least ``min_rounds``, and
    for the workload's own chain until ``seconds`` have passed. A
    layer's self time in a round is its prefix's time minus the self
    times of the layers that prefix contains, so in every round the self
    times add up to the last prefix, the full run.
    Returns every round's self time and prefix time per layer, and each
    layer's job group of the last round."""
    from perfbench import harness

    spark, tracer = ctx.spark, ctx.tracer
    layers, done = [], []
    for name, run, *covers in chain.ledger(ctx, own):
        layers.append((name, run, covers[0] if covers else list(done)))
        done.append(name)
    prefix: dict[str, list[float]] = {name: [] for name, _, _ in layers}
    self_times: dict[str, list[float]] = {name: [] for name, _, _ in layers}
    groups: dict = {}
    deadline = time.perf_counter() + (seconds if own else 0)
    with tracer.span("ledger", workload=chain.name):
        rnd = 0
        while rnd < min_rounds or time.perf_counter() < deadline:
            with tracer.span("round", round=rnd):
                for name, run, covers in layers:
                    with harness.JobGroup(spark, name) as group, \
                            tracer.span(f"prefix:{name}") as sp:
                        run()
                    prefix[name].append(sp.end - sp.start)
                    self_times[name].append(
                        prefix[name][-1] - sum(self_times[c][-1] for c in covers))
                    groups[name] = group
            rnd += 1
    return self_times, prefix, groups


def trace(args, ctx, wl, runs: Runs, log) -> dict:
    """The workload's plan facts and an untraced reference run, then the
    ledger of every chain the runner knows (each on its own seeded
    input, at most SIDE_ROWS rows for the other workloads' chains), so
    every per-layer metric is measured in every traced run.
    ``scan.*`` and the ``plan.*``/``trace.*`` facts describe the
    workload itself."""
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Flagship

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("untraced"):
        wl.reset(ctx)
        mark = log.offset()
        with harness.JobGroup(spark, "full") as full_group:
            t0 = time.perf_counter()
            wl.full(ctx)
            untraced_s = time.perf_counter() - t0
        error_lines = log.error_lines(mark)
    with tracer.span("plan_build"):
        builds = []
        for _ in range(3):
            t0 = time.perf_counter()
            plan = harness.physical_plan(wl.plan_df(ctx))
            builds.append(time.perf_counter() - t0)
    scans, scan_bytes = full_group.executed_scans(wl.input)
    out = {
        "scan.bytes_read": scan_bytes,
        "pipeline.plan_build_s": statistics.median(builds),
        "plan.regex_evals_per_row": harness.regex_nodes(plan, wl.patterns) / len(wl.patterns),
        "plan.exchanges": harness.exchanges(plan),
        "plan.input_scans": scans,
        "plan.spark_jobs": len(full_group.job_ids()),
        "log.error_lines": error_lines,
        "trace.untraced_run_s": untraced_s,
    }

    chains = [wl] + [cls() for name, cls in WORKLOADS.items() if name != wl.name]
    for chain in chains:
        if chain is not wl:
            chain.rows = min(chain.rows, SIDE_ROWS)
            with tracer.span("prepare", workload=chain.name):
                chain.prepare(ctx)
        self_times, prefix, groups = ledger(ctx, chain, args.seconds, chain is wl)
        if chain is wl:
            traced_full = statistics.median(list(prefix.values())[-1])
            out["trace.overhead_s"] = traced_full - out["trace.untraced_run_s"]
        self_s = {name: statistics.median(v) for name, v in self_times.items()}
        # the workload's own chain reports first; scan describes it alone
        out.update({f"{name}.self_s": v for name, v in self_s.items()
                    if not name.startswith("_") and f"{name}.self_s" not in out
                    and (chain is wl or name != "scan")})
        with tracer.span("facts", workload=chain.name):
            out.update({k: v for k, v in chain.facts(ctx, groups).items()
                        if k not in out})
        runs.record(chain.problems)

    flagship = next(c for c in chains if type(c) is Flagship)
    with tracer.span("baseline:local1"):
        out["baseline.local1_events_per_s"] = local1_baseline(ctx, flagship)
    return out


def declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def report(values: dict[str, float], trace: bool) -> dict[str, tuple[float, str]]:
    """Every declared metric, in declared order, with its unit; a
    declared metric not measured, or one measured but not declared, is
    a bug."""
    units = declared(trace)
    if set(values) != set(units):
        raise KeyError(f"measured but not declared: {sorted(set(values) - set(units))}; "
                       f"declared but not measured: {sorted(set(units) - set(values))}")
    return {name: (values[name], unit) for name, unit in units.items()}


def local1_baseline(ctx, flagship) -> float:
    """Single-threaded throughput of the flagship job over the newest
    tenth of its input: a fresh ``local[1]`` context in the same JVM, so
    code generation and JIT are already warm; one timed run."""
    from perfbench import harness

    ctx.spark = harness.restart_session(ctx.spark, ROOT, ctx.work, cores=1,
                                        app="perfbench-local1")
    t0 = time.perf_counter()
    flagship.aggregated(ctx, flagship.source(ctx, newest=True)).collect()
    return (flagship.rows - flagship.rows * 9 // 10) / (time.perf_counter() - t0)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import beats_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Ctx

    os.environ["TZ"] = "UTC"
    time.tzset()
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log = harness.LogCapture(os.path.join(work, "driver.log"))
    runs, tracer = Runs(), harness.Tracer(bool(args.trace))
    ctx = None
    try:
        c0, t0 = harness.tree_cpu_seconds(os.getpid()), time.perf_counter()
        spark = harness.start_session(ROOT, work)
        session = (time.perf_counter() - t0, harness.tree_cpu_seconds(os.getpid()) - c0)
        ctx = Ctx(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload]()
        with tracer.span("run", workload=wl.name, seed=args.seed):
            t0 = time.perf_counter()
            with tracer.span("prepare", workload=wl.name):
                wl.prepare(ctx)
            inputs_s = time.perf_counter() - t0
            setup_walls, setup_cpus = set_ups(ctx, wl, runs, session,
                                              1 if args.trace else SETUPS)
            if args.trace:
                metrics = trace(args, ctx, wl, runs, log)
            else:
                metrics = timed(args, ctx, wl, runs)
                metrics["setup_s"] = statistics.median(setup_cpus)
        metrics = report(metrics, bool(args.trace))
    finally:
        if ctx is not None:
            harness.stop_session(ctx.spark)
        log.close()
        shutil.rmtree(work, ignore_errors=True)

    for p in runs.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        path = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        print(f"trace: {os.path.relpath(path, ROOT)}")
    summary = "  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
    if runs.full:
        summary += f"  events_per_s={wl.run_events / statistics.median(runs.full):.6g} events/s"
    if runs.resume:
        summary += f"  resume_s={statistics.median(runs.resume):.6g} s"
    print(f"{args.workload} seed={args.seed}: {summary}  "
          f"failed_run_frac={runs.failed / runs.attempted:.3g} ratio  "
          f"(session_s={session[0]:.3g} s, inputs_s={inputs_s:.3g} s, "
          f"set-up wall/cpu s={[round(t, 2) for t in setup_walls]}/"
          f"{[round(t, 2) for t in setup_cpus]}, "
          f"full wall/cpu s={[round(t, 2) for t in runs.full]}/"
          f"{[round(t, 2) for t in runs.full_cpu]}, "
          f"resume_s={[round(t, 2) for t in runs.resume]})")
    print(json.dumps({
        "correct": runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
