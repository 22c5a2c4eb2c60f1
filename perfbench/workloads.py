"""The workloads: inputs, one timed run, the output check, and the
cumulative-prefix ledger of its layers.

A run builds its plan from the package's public entry points and ends
at a result (a collected aggregate, a committed sink, an observed
count), so every run is a closed loop: the next starts when the
previous one returns. A ``sink_resume`` run is a first batch followed
by its checkpointed resume over the newest tenth of the rows, whose
latency is ``resume_s``.

``flagship`` and ``keyed_udf`` are the gated pair: the parse -> enrich
-> route -> aggregate chain and the Arrow/Python path. ``ingest_module``
(a compiled module pipeline) and ``sink_resume`` (the write and
checkpoint path) run by hand, and every traced run ledgers all four.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from perfbench import harness, inputs, oracles

HERE = os.path.dirname(os.path.abspath(__file__))


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, work: str, seed: int, tracer: harness.Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer


class Workload:
    name = ""
    rows = 0
    #: regex texts whose copies in the executed plan count as evaluations
    patterns: list[str] = []
    #: whether a run is a first batch plus its checkpointed resume
    resumes = False

    def __init__(self):
        #: mismatches found by checks made while tracing
        self.problems: list[str] = []

    # -- set-up --
    def make_input(self, ctx: Ctx) -> DataFrame:
        raise NotImplementedError

    def expect(self, ctx: Ctx) -> None:
        """Compute the expected outputs from the written input."""
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Write the seeded input and compute the expected outputs."""
        self.input = os.path.join(ctx.work, f"input-{self.name}")
        self.make_input(ctx).write.mode("overwrite").parquet(self.input)
        self.cut = inputs.first_id(ctx.seed) + self.rows * 9 // 10
        self.expect(ctx)

    def source(self, ctx: Ctx, newest: bool = False) -> DataFrame:
        df = ctx.spark.read.parquet(self.input)
        return df.filter(F.col("offset") >= self.cut) if newest else df

    # -- runs --
    @property
    def run_events(self) -> int:
        return self.rows

    def full(self, ctx: Ctx):
        raise NotImplementedError

    def incremental(self, ctx: Ctx, full_out):
        """The resume after ``full`` (workloads that resume only)."""
        raise NotImplementedError

    def check(self, ctx: Ctx, full_out, inc_out=None) -> list[str]:
        raise NotImplementedError

    def reset(self, ctx: Ctx) -> None:
        """Undo a run's side effects before the next one."""

    # -- trace --
    def ledger(self, ctx: Ctx, own: bool = True) -> list[tuple]:
        """(layer, run the prefix ending at that layer[, the layers the
        prefix contains]). Without the third item a prefix contains
        every layer before it. The last prefix is the full run.
        ``own`` is false when the ledger is traced for another workload;
        a layer named ``_...`` is a helper prefix, never reported."""
        raise NotImplementedError

    def plan_df(self, ctx: Ctx) -> DataFrame:
        """The full run's final DataFrame (for plan facts)."""
        raise NotImplementedError

    def facts(self, ctx: Ctx, ledger_groups: dict) -> dict[str, float]:
        """Per-layer counts and one-off timings, read after the ledger
        rounds; ``ledger_groups`` holds each layer's last job group."""
        return {}


# ---------------------------------------------------------------------------
# flagship: dissect -> drop_event -> LookupJoin -> fingerprint -> route ->
# aggregate, collected; sink_resume: the same chain through run_batch
# ---------------------------------------------------------------------------

ROUTING = {
    "indices": [
        {"index": "errors-%{+yyyy.MM.dd}", "when": {"equals": {"level": "error"}}},
        {"index": "logs-%{[host_env]}-%{[level]}"},
    ],
    "default": "dead-letter",
}


class Flagship(Workload):
    """``LogPipeline.routed`` + ``aggregates`` over the event table, the
    aggregate collected: dissect -> drop_event -> LookupJoin ->
    fingerprint -> add_sink_column -> sink_window_counts. The narrow
    codegen path, where the dissect regex dominates; no write,
    checkpoint or Python layer."""

    name = "flagship"
    rows = 400_000

    def make_input(self, ctx):
        return inputs.events(ctx.spark, ctx.seed, self.rows)

    def expect(self, ctx):
        from beats_spark.datagen import TOKENIZER, host_dim
        from beats_spark.dissect import compile_tokenizer

        self.dim_rows = [(r["source"], r["env"]) for r in host_dim(ctx.spark).collect()]
        self.patterns = [compile_tokenizer(TOKENIZER).regex]
        self.want = oracles.flagship_expected(self.input, self.dim_rows)

    def processors(self, ctx) -> list:
        from beats_spark.datagen import TOKENIZER, host_dim
        from beats_spark.dissect import dissect
        from beats_spark.processors.enrich import LookupJoin

        return [
            lambda df: dissect(df, TOKENIZER, target_prefix=""),
            {"drop_event": {}, "when": {"equals": {"level": "debug"}}},
            LookupJoin(host_dim(ctx.spark), on="source", prefix="host_"),
            {"fingerprint": {"fields": ["source", "offset"], "method": "xxhash",
                             "target_field": "event_hash"}},
        ]

    def pipeline(self, ctx):
        from beats_spark.app import LogPipeline

        return LogPipeline(self.processors(ctx), ROUTING)

    def aggregated(self, ctx, df: DataFrame) -> DataFrame:
        pipe = self.pipeline(ctx)
        return pipe.aggregates(pipe.routed(df))

    def full(self, ctx):
        return self.aggregated(ctx, self.source(ctx)).collect()

    def check(self, ctx, full_out, inc_out=None):
        return oracles.check_flagship(full_out, self.want)

    # -- trace --
    def chain_input(self, ctx) -> DataFrame:
        """What the full run feeds the chain."""
        return self.source(ctx)

    def head(self, ctx, n: int) -> DataFrame:
        """The chain's first ``n`` processors over the full run's input."""
        from beats_spark.pipeline import build_pipeline, normalize

        return build_pipeline(self.processors(ctx)[:n])(normalize(self.chain_input(ctx)))

    def routed(self, ctx) -> DataFrame:
        from beats_spark.routing import add_sink_column

        return add_sink_column(self.head(ctx, 4), ROUTING)

    def chain_ledger(self, ctx) -> list[tuple]:
        head = lambda n: lambda: harness.noop(self.head(ctx, n))  # noqa: E731
        return [
            ("scan", lambda: harness.noop(self.chain_input(ctx))),
            ("dissect", head(1)), ("drop_event", head(2)), ("enrich", head(3)),
            ("fingerprint", head(4)),
            ("route", lambda: harness.noop(self.routed(ctx))),
        ]

    def ledger(self, ctx, own=True):
        def aggregate():
            self.agg_rows = self.full(ctx)
            self.problems.extend(oracles.check_flagship(self.agg_rows, self.want))

        return self.chain_ledger(ctx) + [("aggregate", aggregate)]

    def plan_df(self, ctx):
        return self.aggregated(ctx, self.source(ctx))

    def facts(self, ctx, ledger_groups):
        plan = lambda n: harness.physical_plan(self.head(ctx, n))  # noqa: E731
        return {
            "dissect.regex_evals_per_row": harness.regex_nodes(
                harness.physical_plan(self.routed(ctx)), self.patterns) / len(self.patterns),
            "drop_event.rows_kept_frac": self.head(ctx, 2).count() / self.head(ctx, 1).count(),
            "enrich.exchanges": harness.exchanges(plan(3)) - harness.exchanges(plan(2)),
            "aggregate.shuffle_bytes": (ledger_groups["aggregate"].shuffle_bytes()
                                        - ledger_groups["route"].shuffle_bytes()),
            "aggregate.groups_out": len(self.agg_rows),
        }


class SinkResume(Flagship):
    """``LogPipeline.run_batch`` with a checkpoint over the first 90% of
    the event table (partitioned sink fan-out, window aggregates,
    offset commit), then the resume over the whole table, on the
    flagship chain. A parse gain shows here and on ``flagship``; a
    write-path gain only here."""

    name = "sink_resume"
    rows = 40_000
    resumes = True

    def expect(self, ctx):
        from beats_spark.datagen import TOKENIZER, host_dim
        from beats_spark.dissect import compile_tokenizer

        self.dim_rows = [(r["source"], r["env"]) for r in host_dim(ctx.spark).collect()]
        self.patterns = [compile_tokenizer(TOKENIZER).regex]
        self.want = oracles.sink_expected(self.input, self.dim_rows, self.cut)
        self.n = 0

    @property
    def run_events(self) -> int:
        return self.rows * 9 // 10

    def dirs(self, ctx) -> dict[str, str]:
        base = os.path.join(ctx.work, f"sink-run{self.n}")
        return {k: os.path.join(base, k) for k in ("sinks", "checkpoint", "aggregates")}

    def pipeline(self, ctx):
        from beats_spark.app import LogPipeline

        return LogPipeline(self.processors(ctx), ROUTING,
                           checkpoint_path=self.dirs(ctx)["checkpoint"])

    def chain_input(self, ctx) -> DataFrame:
        return self.source(ctx).filter(F.col("offset") < self.cut)

    def batch(self, ctx, df, run_id: str) -> dict:
        d = self.dirs(ctx)
        return self.pipeline(ctx).run_batch(ctx.spark, df, d["sinks"], run_id=run_id,
                                            agg_dir=d["aggregates"])

    def full(self, ctx):
        return self.batch(ctx, self.chain_input(ctx), "first")

    def incremental(self, ctx, full_out):
        return self.batch(ctx, self.source(ctx), "resume")

    def check(self, ctx, full_out, inc_out=None):
        d = self.dirs(ctx)
        acked = {(s, "first"): n for s, n in full_out["sink_counts"].items()}
        acked.update({(s, "resume"): n for s, n in inc_out["sink_counts"].items()})
        return (oracles.diff("acked events per sink", acked, self.want["sinks"])
                + oracles.check_sink(d["sinks"], d["checkpoint"], self.want))

    def reset(self, ctx):
        shutil.rmtree(os.path.dirname(self.dirs(ctx)["sinks"]), ignore_errors=True)
        self.n += 1

    # -- trace --
    def ledger(self, ctx, own=True):
        """fanout_write and run_batch each extend route; run_batch does
        the write plus persist, the aggregate write, counts and the
        commit. Traced for another workload, the chain up to route is
        one helper prefix (``_route``), left out of the ledger."""
        from beats_spark.routing import fanout_write

        def write():
            out = os.path.join(ctx.work, "ledger-sinks")
            fanout_write(self.routed(ctx), out, run_id="ledger")
            shutil.rmtree(out, ignore_errors=True)

        def run_batch():
            self.reset(ctx)
            self.last_full = self.full(ctx)

        chain = self.chain_ledger(ctx)
        if not own:
            chain = [("_route", chain[-1][1])]
        names = [name for name, _ in chain]
        return chain + [("fanout_write", write, names),
                        ("run_batch", run_batch, names + ["fanout_write"])]

    def plan_df(self, ctx):
        return self.pipeline(ctx).routed(self.source(ctx))

    def facts(self, ctx, ledger_groups):
        """The ledger's last run_batch (a first run on fresh
        directories), observed from outside, then the checkpoint layer
        timed against its commit, then its resume, checked."""
        from beats_spark import checkpoint as cp

        spark = ctx.spark
        group = ledger_groups["run_batch"]
        files, size = harness.dir_files(self.dirs(ctx)["sinks"])
        out: dict[str, float] = {
            "run_batch.input_scans": group.executed_scans(self.input)[0],
            "run_batch.spark_jobs": len(group.job_ids()),
            "fanout_write.files_written": files,
            "fanout_write.bytes_written": size,
        }

        t0 = time.perf_counter()
        state = cp.load_state(spark, self.dirs(ctx)["checkpoint"])
        state.collect()
        out["checkpoint.load_state_s"] = time.perf_counter() - t0
        everything = self.source(ctx)
        t0 = time.perf_counter()
        harness.noop(everything)
        t1 = time.perf_counter()
        harness.noop(cp.resume_filter(everything, state))
        t2 = time.perf_counter()
        out["checkpoint.resume_filter_s"] = (t2 - t1) - (t1 - t0)
        out["checkpoint.rows_kept_frac"] = (cp.resume_filter(everything, state).count()
                                            / everything.count())
        newest = self.source(ctx, newest=True)
        stats = cp.partition_stats(newest, self.pipeline(ctx).routed(newest), "ledger")
        t0 = time.perf_counter()
        cp.commit(stats, os.path.join(ctx.work, "ledger-checkpoint"))
        out["checkpoint.commit_s"] = time.perf_counter() - t0
        self.problems.extend(self.check(ctx, self.last_full, self.incremental(ctx, None)))

        routed = self.pipeline(ctx).routed(self.chain_input(ctx))
        routed.persist()
        try:
            routed.count()
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            out["run_batch.persist_bytes"] = sum(
                int(i.memSize()) + int(i.diskSize()) for i in infos)
        finally:
            routed.unpersist(blocking=True)
        self.reset(ctx)
        return out


# ---------------------------------------------------------------------------
# ingest_module: an nginx access definition through the ingest compiler
# ---------------------------------------------------------------------------


class IngestModule(Workload):
    name = "ingest_module"
    rows = 12_000
    definition = os.path.join(HERE, "nginx_access.yml")
    keys = ("log.level", "error.message", "event.outcome")

    def make_input(self, ctx):
        return inputs.access_lines(ctx.spark, ctx.seed, self.rows)

    def expect(self, ctx):
        from beats_spark.ingest import load_ingest_pipeline
        from beats_spark.processors.grok import GrokPattern

        cfg = load_ingest_pipeline(self.definition)
        grok = cfg["processors"][0]["grok"]
        self.patterns = [GrokPattern(p, grok.get("pattern_definitions"),
                                     require_captures=False).anchored(False)
                         for p in grok["patterns"]]
        self.want = oracles.ingest_expected(self.input)

    def compiled(self, n: int | None = None):
        from beats_spark.ingest import compile_ingest_pipeline, load_ingest_pipeline

        cfg = load_ingest_pipeline(self.definition)
        if n is not None:
            cfg = {**cfg, "processors": cfg["processors"][:n]}
        return compile_ingest_pipeline(cfg)

    def full(self, ctx) -> dict:
        """Write every output column to the noop sink; count documents,
        failed documents, and documents per (level, error, outcome) in
        the same pass."""
        out = self.compiled()(self.source(ctx))
        obs = Observation("ingest")

        def same(col: str, v):
            c = F.col(f"`{col}`")
            return c.isNull() if v is None else c == F.lit(v)

        exprs = [F.count(F.lit(1)).alias("total"),
                 F.count_if(F.col("`error.message`").isNotNull()).alias("failed")] + [
            F.count_if(same(self.keys[0], k[0]) & same(self.keys[1], k[1])
                       & same(self.keys[2], k[2])).alias(f"k{i}")
            for i, k in enumerate(self.want)
        ]
        harness.noop(out.observe(obs, *exprs))
        return obs.get

    def check(self, ctx, full_out, inc_out=None):
        want = self.want
        counts = {k: full_out[f"k{i}"] for i, k in enumerate(want)}
        bad = oracles.check_ingest([(*k, v) for k, v in counts.items()], want)
        totals = {"total": sum(want.values()),
                  "failed": sum(v for k, v in want.items() if k[1] is not None)}
        bad += [f"{what} documents: got {full_out[what]} want {n}"
                for what, n in totals.items() if full_out[what] != n]
        return bad

    def plan_df(self, ctx):
        return self.compiled()(self.source(ctx))

    def ledger(self, ctx, own=True):
        prefix = lambda n: lambda: harness.noop(self.compiled(n)(self.source(ctx)))  # noqa: E731

        def tail():
            self.observed = self.full(ctx)
            self.problems.extend(self.check(ctx, self.observed))

        return [
            ("scan", lambda: harness.noop(self.source(ctx))),
            ("ingest.grok", prefix(1)),
            ("ingest.date", prefix(2)),
            ("ingest.user_agent", prefix(3)),
            ("ingest.tail", tail),
        ]

    def facts(self, ctx, ledger_groups):
        from beats_spark.ingest import compile_ingest_pipeline, load_ingest_pipeline

        t0 = time.perf_counter()
        pipe = compile_ingest_pipeline(load_ingest_pipeline(self.definition))
        t1 = time.perf_counter()
        out = pipe(self.source(ctx))  # each DataFrame step is analyzed eagerly
        t2 = time.perf_counter()
        return {
            "ingest.compile_s": t1 - t0,
            "ingest.analyze_s": t2 - t1,
            "ingest.regex_evals_per_row": harness.regex_nodes(
                harness.physical_plan(out), self.patterns) / len(self.patterns),
            # counted in the program's output by the ledger's last prefix
            "ingest.failed_rows_frac": self.observed["failed"] / self.observed["total"],
        }


# ---------------------------------------------------------------------------
# keyed_udf: multiline merge (mapInPandas) -> token bucket (applyInPandas)
# ---------------------------------------------------------------------------


class KeyedUdf(Workload):
    name = "keyed_udf"
    rows = 200_000
    per_minute = 1
    patterns = [oracles.ML_PATTERN]

    def make_input(self, ctx):
        return inputs.stack_lines(ctx.spark, ctx.seed, self.rows)

    def expect(self, ctx):
        self.want = oracles.token_bucket_admitted(oracles.multiline_events(self.input),
                                                  self.per_minute)

    def merged(self, ctx) -> DataFrame:
        from beats_spark.multiline import multiline_pattern

        ev = multiline_pattern(self.source(ctx), pattern=oracles.ML_PATTERN,
                               match="after", merge="stream")
        return ev.withColumn("ts", F.timestamp_seconds(F.col("offset")))

    def limited(self, ctx) -> DataFrame:
        from beats_spark.token_bucket import token_bucket

        return token_bucket(self.merged(ctx), f"{self.per_minute}/m", ["source", "part_id"])

    def full(self, ctx):
        return self.limited(ctx).groupBy("source", "part_id").count().collect()

    def check(self, ctx, full_out, inc_out=None):
        return oracles.check_keyed(full_out, self.want)

    def plan_df(self, ctx):
        return self.limited(ctx)

    def ledger(self, ctx, own=True):
        def token_bucket():
            self.admitted = self.full(ctx)
            self.problems.extend(self.check(ctx, self.admitted))

        return [
            ("scan", lambda: harness.noop(self.source(ctx))),
            ("multiline", lambda: harness.noop(self.merged(ctx))),
            ("token_bucket", token_bucket),
        ]

    def facts(self, ctx, ledger_groups):
        """Ratios of the program's own output: the merged events per key
        and the ledger's last admitted counts per key."""
        per_key = [r["count"] for r in
                   self.merged(ctx).groupBy("source", "part_id").count().collect()]
        return {
            "multiline.shuffle_bytes": ledger_groups["multiline"].shuffle_bytes(),
            "token_bucket.allowed_frac": sum(r[2] for r in self.admitted) / sum(per_key),
            "token_bucket.max_key_share": max(per_key) / sum(per_key),
        }


#: every workload the runner knows; BENCHMARK.json gates the first two
WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (Flagship, KeyedUdf, IngestModule, SinkResume)
}
