"""Physical-plan audit: verify the plans are the ones we want at scale.

For each registry row with audit opts (``__spark_entry__.REGISTRY``),
render ``explain("formatted")`` and check the scale-critical properties
mechanically:

- parquet scans carry **PushedFilters** / pruned **ReadSchema** where
  the query filters/projects (predicate pushdown + column pruning hit
  the scan, not a post-scan Filter over full rows);
- every enrichment join is a **BroadcastHashJoin** (no shuffle of the
  fact side for dims);
- the hot path sits inside **WholeStageCodegen** spans (JVM-compiled,
  no per-row Python);
- no **CartesianProduct** / BroadcastNestedLoopJoin anywhere (unless
  the row's ``allow_cartesian`` says it is deliberate).

Rows that cannot build on this host (``skip_reason``) are listed as
skipped. Writes PLANS.md with the verdict table + annotated excerpts.

    python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def extra_frames(spark, sf_dir):
    """Plan-audit targets that are not driver queries: the spool drain
    read and the streaming fan-out per-batch count function (the
    foreachBatch body is a batch plan — audit it as one)."""
    import tempfile

    from beats_spark.datagen import generate_events
    from beats_spark.routing import add_sink_column, fanout_counts
    from beats_spark.spool import Spool

    ev = generate_events(spark, 1000)
    routing = {"indices": [{"index": "errors",
                            "when": {"equals": {"level": "error"}}}],
               "default": "main"}
    routed = add_sink_column(ev, routing)
    frames = {"streaming_fanout_batch_fn": (fanout_counts(routed), dict())}
    d = tempfile.mkdtemp(prefix="audit_spool_")
    sp = Spool(d)
    sp.enqueue(ev, "b1")
    pending = sp.read_pending(spark)
    if pending is not None:
        frames["spool_drain"] = (pending, dict())
    return frames


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, text: str, broadcast: bool = False,
          allow_cartesian: bool = False) -> list[str]:
    problems = []
    if not allow_cartesian and (
        "CartesianProduct" in text or "BroadcastNestedLoopJoin" in text
    ):
        problems.append("cartesian/nested-loop join present")
    if broadcast and "BroadcastHashJoin" not in text and "BroadcastExchange" not in text:
        problems.append("expected broadcast join, none found")
    if "SortMergeJoin" in text and broadcast:
        problems.append("dim join fell back to SortMergeJoin")
    # Spark 4 formatted explain tags codegen'd operators "[codegen id : N]"
    if "codegen id" not in text:
        problems.append("no whole-stage-codegen span")
    if "BatchEvalPython" in text:
        problems.append("row-at-a-time Python UDF in plan")
    return problems


def main() -> None:
    import __spark_entry__ as entry
    from beats_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # AQE wraps plans in AdaptiveSparkPlan(isFinalPlan=false) whose
    # formatted explain omits codegen annotations until execution — audit
    # the static plan instead (AQE only re-plans exchanges at runtime).
    spark = get_spark("explain_audit", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    results: dict[str, tuple[list[str], str]] = {}
    skipped: dict[str, str] = {}
    targets = {}
    for row in entry.REGISTRY:
        if row.audit is None:
            continue
        why = entry.skip_reason(row)
        if why:
            skipped[row.name] = why
            continue
        targets[row.name] = (row.build(spark, sf_dir), row.audit)
    targets.update(extra_frames(spark, sf_dir))
    for name, (df, opts) in targets.items():
        text = plan_text(df)
        results[name] = (audit(name, text, **opts), text)

    out = ["# PLANS — physical-plan audit of headline queries\n"]
    out.append("Generated by `python scripts/explain_audit.py` (sf=%s).\n" % sf_dir)
    out.append("| query | broadcast joins | codegen | pushdown | verdict |")
    out.append("|---|---|---|---|---|")
    for name, (problems, text) in results.items():
        bj = len(re.findall(r"BroadcastHashJoin", text))
        wsc = len(set(re.findall(r"codegen id : (\d+)", text)))
        pf = "yes" if re.search(r"PushedFilters: \[[^\]]", text) else "—"
        verdict = "OK" if not problems else "; ".join(problems)
        out.append(f"| {name} | {bj} | {wsc} spans | {pf} | {verdict} |")
    for name, why in skipped.items():
        out.append(f"| {name} | — | — | — | skipped: {why} |")
    out.append("")

    for name, (problems, text) in results.items():
        if problems:
            out.append(f"## {name} — ISSUES: {problems}\n")
            out.append("```\n" + text[:4000] + "\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    bad = {n: p for n, (p, _) in results.items() if p}
    for name, why in skipped.items():
        print(f"skipped {name}: {why}")
    print("PLANS.md written;", "ALL OK" if not bad else f"issues: {bad}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
