"""Structural rules of the query registry (``__spark_entry__.REGISTRY``),
the one ordered table that ``queries()``, ``oracle_sql()``, bench.py,
the plan audit and the second-scale oracle gate all select from."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

NEEDS_REFERENCE = {"module_nginx", "module_system_syslog", "module_system_auth",
                   "module_postgresql", "module_auditd"}


def test_names_are_unique():
    names = [r.name for r in entry.REGISTRY]
    assert len(names) == len(set(names))
    assert list(entry.queries()) == names


def test_flagship_is_row_zero():
    assert entry.REGISTRY[0].name == "pipeline_flagship"


def test_every_row_has_an_oracle_or_a_rows_only_reason():
    rows_only = {r.name: r.rows_only for r in entry.REGISTRY if r.oracle is None}
    assert rows_only == {"compression_ratio": "no zlib in DuckDB"}
    assert all(r.rows_only is None for r in entry.REGISTRY if r.oracle is not None)
    oracles = entry.oracle_sql()
    assert list(oracles) == [r.name for r in entry.REGISTRY if r.oracle is not None]
    assert all(isinstance(sql, str) and "SELECT" in sql.upper()
               for sql in oracles.values())


def test_tags_and_audit_opts_are_known():
    for r in entry.REGISTRY:
        assert set(r.tags.split()) <= {"headline", "r2", "order_sensitive",
                                       "needs_reference"}, r.name
        if r.audit is not None:
            assert set(r.audit) <= {"broadcast", "allow_cartesian"}, r.name


def test_r2_rows_are_headline_rows():
    assert {r.name for r in entry.rows("r2")} <= {r.name for r in entry.rows("headline")}


def test_missing_reference_skips_exactly_the_needs_reference_rows(
        spark, monkeypatch, tmp_path, registry_frames):
    from beats_spark import module_scripts

    monkeypatch.setattr(module_scripts, "REFERENCE_MODULE_ROOT",
                        str(tmp_path / "absent"))
    skipped = {r.name for r in entry.REGISTRY if entry.skip_reason(r)}
    assert skipped == NEEDS_REFERENCE == {r.name for r in entry.rows("needs_reference")}
    with pytest.raises(FileNotFoundError):
        entry.queries()["module_nginx"](spark, SF_DIR)
    # every other row built, with the same root missing
    assert set(registry_frames) == {r.name for r in entry.REGISTRY} - skipped
