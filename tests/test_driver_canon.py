"""Guard against driver-canonicalizer crashes: the round-gate driver
value-hashes every registry query by pandas-sorting ALL output columns
(``DataFrame.sort_values`` → ``Categorical`` → ``factorize``), which
raises ``TypeError: unhashable type`` the moment a query emits a
complex-typed column (array/map/struct).  Round 4 lost three otherwise
correct queries (fim_transform, fim_loss_mask, span_corrupt) to exactly
this, so the rule is now a test: every ``queries()`` output schema must
be scalar-only — token arrays and the like ship as md5 content
signatures at the registry boundary (the decontaminate_spans_tokens
pattern) while the raw-array form stays the pytest/API level.

The check is static (lazy plan → schema), so it covers all registry
entries in one cheap pass; a 1-row pandas canonicalization of the
flagship output additionally exercises the driver's exact code path.
"""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import types as T

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_all_registry_schemas_are_scalar_only(spark, registry_frames):
    import __spark_entry__ as entry

    frames = dict(registry_frames)
    for row in entry.rows("needs_reference"):
        why = entry.skip_reason(row)
        if why:
            warnings.warn(f"skipped {row.name}: {why}")
        else:
            frames[row.name] = row.build(spark, SF_DIR)
    bad: list[str] = []
    for name, df in frames.items():
        for f in df.schema.fields:
            if isinstance(f.dataType, _COMPLEX):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, (
        "registry queries emit complex-typed columns the driver "
        "canonicalizer cannot factorize — emit an md5 signature "
        f"instead:\n" + "\n".join(bad)
    )


@pytest.mark.parametrize("name", ["fim_transform", "fim_loss_mask",
                                  "span_corrupt", "pipeline_flagship"])
def test_driver_pandas_canonicalization_one_row(spark, name):
    """Replays the driver's canon (sort_values over every column) on a
    1-row sample — the exact call that raised in CORRECTNESS_r04."""
    df = _registry()[name](spark, SF_DIR).limit(1)
    pdf = df.toPandas()
    pdf.sort_values(by=list(pdf.columns))  # must not raise
