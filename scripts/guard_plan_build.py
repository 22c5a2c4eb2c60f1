"""Plan-build cost of guarded processor chains.

Builds a few long chains (a guarded translated javascript script, a
long if/then/else, many ``when:``-guarded writes, many converts) over a
small generated frame and prints, per chain, the number of DataFrames
created while building it (one Catalyst analysis each) and the build
time (chain call + optimized plan, min of 3 after a warm-up).

Usage: python scripts/guard_plan_build.py [repo_root]

Pass another checkout's root to measure that tree with the same chains.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, sys.argv[1] if len(sys.argv) > 1 else ".")

from pyspark.sql.classic import dataframe as classic  # noqa: E402

from beats_spark.datagen import TOKENIZER, generate_events  # noqa: E402
from beats_spark.pipeline import build_pipeline  # noqa: E402
from beats_spark.session import get_spark  # noqa: E402

ERROR = {"equals": {"level": "error"}}
DISSECT = {"dissect": {"tokenizer": TOKENIZER, "target_prefix": ""}}


def _script() -> str:
    stmts = []
    for i in range(10):
        stmts += [f'e.Put("caller", "c{i}");', f'e.Tag("t{i}");', 'e.Put("level", "error");']
        if i % 4 == 0:
            stmts.append(f'if (e.Get("msg") == "m{i}") {{ e.Put("msg", "x{i}"); e.Put("n{i}", {i}); }}')
    return "function process(e) { " + " ".join(stmts) + " }"


def _add(field: str, value: str, **extra) -> dict:
    return {"add_fields": {"fields": {field: value}, "fields_under_root": True, **extra}}


CHAINS = {
    "guarded_js_script": [DISSECT, {"script": {"lang": "javascript", "source": _script(),
                                               "when": ERROR}}],
    "unguarded_js_script": [DISSECT, {"script": {"lang": "javascript", "source": _script()}}],
    "if_then_else_20": [DISSECT, {
        "if": ERROR,
        "then": [_add("caller", f"a{i}") for i in range(20)],
        "else": [{"add_tags": {"tags": [f"b{i}"]}} for i in range(20)],
    }],
    "when_guarded_40": [DISSECT] + [_add("msg", f"m{i}", when=ERROR) for i in range(40)],
    "convert_20": [DISSECT] + [{"convert": {"fields": [{"from": "caller", "type": "string"}]}}
                               for _ in range(20)],
}


def main() -> None:
    spark = get_spark("guard_plan_build", master="local[2]", shuffle_partitions=2)
    events = generate_events(spark, 200)
    built = [0]
    new = classic.DataFrame.__new__

    def counting_new(cls, *a, **kw):
        built[0] += 1
        return new(cls, *a, **kw)

    classic.DataFrame.__new__ = staticmethod(counting_new)

    def build(chain) -> float:
        t = time.perf_counter()
        build_pipeline(chain)(events)._jdf.queryExecution().optimizedPlan()
        return time.perf_counter() - t

    for name, chain in CHAINS.items():
        built[0] = 0
        build(chain)
        frames = built[0]
        best = min(build(chain) for _ in range(3))
        print(f"{name}: dataframes={frames} build_s={best:.2f}", flush=True)


if __name__ == "__main__":
    main()
