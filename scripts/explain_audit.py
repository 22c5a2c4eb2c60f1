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

Every registry row, with audit opts or without, also gets one more
rule: no regex expression (``regexp_replace``, ``regexp_extract``,
``regexp_extract_all``, ``rlike``) with the same input and the same
pattern is evaluated in two operators of the executed plan, file scans
aside (a scan's data filters repeat the Filter above it). Copies inside
one operator may be shared by codegen's subexpression elimination;
copies in two operators never are. The usual cause is a filter
Catalyst pushed below a parse; the fix is ``conditions.once``.

And no plan scans a Python RDD (``Scan ExistingRDD`` over a
``PythonRDD``, which ``createDataFrame(list)`` builds): such a scan
starts Python worker tasks on every execution of the plan. Constant
frames come from ``session.local_frame``, a JVM ``LocalTableScan``.
This rule has no exemption key.

Rows that cannot build on this host (``skip_reason``) are listed as
skipped. Writes PLANS.md with the verdict table + annotated excerpts.

    python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from collections import Counter
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


REGEX_EXPRS = {"RegExpReplace", "RegExpExtract", "RegExpExtractAll", "RLike"}


def _trees(v):
    """The expression trees in a plan node's field value. ``toJSON``
    flattens a tree to its nodes in pre-order, each with its
    ``num-children``."""
    if isinstance(v, list) and v and isinstance(v[0], dict) and "num-children" in v[0]:
        yield v
    elif isinstance(v, (list, dict)):
        for x in (v if isinstance(v, list) else v.values()):
            yield from _trees(x)


def _end(flat: list[dict], i: int) -> int:
    """One past the last node of the subtree rooted at ``flat[i]``."""
    need = 1
    while need:
        need += flat[i]["num-children"] - 1
        i += 1
    return i


def _definitions(plan: list[dict]) -> dict:
    """exprId → the flat tree a Project's ``Alias`` defines it as."""
    defs = {}
    for node in plan:
        for flat in _trees(node.get("projectList")):
            if flat[0]["class"].endswith(".Alias"):
                defs[flat[0]["exprId"]["id"]] = flat[1:]
    return defs


def _inline(flat: list[dict], defs: dict) -> list[dict]:
    """``flat`` with each attribute a Project defines replaced by its
    definition (a pre-order tree stays one when a leaf becomes a
    subtree)."""
    out = []
    for e in flat:
        d = defs.get(e["exprId"]["id"]) if e["class"].endswith(
            ".AttributeReference") else None
        out.extend([e] if d is None else _inline(d, defs))
    return out


def repeated_regex(df) -> list[tuple[str, int]]:
    """``(regex, operators)`` for each regex expression that occurs in
    more than one operator of ``df``'s executed plan, file scans aside.
    Two occurrences are the same expression when the pattern and the
    input match once the input's Project-defined columns are inlined (a
    filter pushed below a parse inlines them)."""
    plan = json.loads(df._jdf.queryExecution().executedPlan().toJSON())
    defs = _definitions(plan)
    operators: Counter = Counter()
    patterns = {}
    for node in plan:
        if node["class"].endswith("ScanExec"):
            continue
        here = set()
        for v in node.values():
            for flat in _trees(v):
                for i, e in enumerate(flat):
                    if e["class"].rsplit(".", 1)[-1] in REGEX_EXPRS:
                        tree = flat[i:_end(flat, i)]
                        key = json.dumps(_inline(tree, defs), sort_keys=True)
                        here.add(key)
                        # the input is the first child, the pattern the
                        # second (a literal)
                        arg, pat = tree[1], tree[_end(tree, 1)]
                        patterns[key] = "%s(%s, %s)" % (
                            e["class"].rsplit(".", 1)[-1],
                            arg.get("name") or arg["class"].rsplit(".", 1)[-1],
                            pat.get("value"))
        operators.update(here)
    return [(patterns[k], n) for k, n in operators.items() if n > 1]


def python_rdd_scans(df) -> int:
    """How many leaves of ``df``'s physical plan scan an RDD whose
    lineage holds a ``PythonRDD``. A ``localCheckpoint`` plans as
    ``Scan ExistingRDD`` too, but its RDD is the JVM's own, so the rule
    reads the lineage, not the node name."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    return sum("PythonRDD[" in s.rdd().toDebugString() for s in scans
               if s.getClass().getSimpleName() == "RDDScanExec")


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
        why = entry.skip_reason(row)
        if why:
            skipped[row.name] = why
            continue
        targets[row.name] = (row.build(spark, sf_dir), row.audit)
    targets.update(extra_frames(spark, sf_dir))
    for name, (df, opts) in targets.items():
        text = plan_text(df)
        problems = [f"regex evaluated in {n} operators: {rx[:80]}"
                    for rx, n in repeated_regex(df)]
        if python_rdd_scans(df):
            problems.append("Python-RDD scan (Scan ExistingRDD) in plan")
        if opts is not None:
            problems += audit(name, text, **opts)
        results[name] = (problems, text)

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
    names = {row.name for row in entry.REGISTRY}
    print(f"{sum(n in names for n in results)} registry rows audited")
    print("PLANS.md written;", "ALL OK" if not bad else f"issues: {bad}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
