"""CI gate for the physical-plan audit: every audited plan must be
free of cartesian products (outside the whitelisted small-n baseline),
keep broadcast joins broadcast, stay inside whole-stage codegen, and
carry no row-at-a-time Python UDFs; no registry row's plan may evaluate
the same regex expression in two operators or scan a Python RDD. Runs
the audit script as a subprocess (it needs its own AQE-disabled
session)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_explain_audit_gate():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "explain_audit.py")],
        capture_output=True, text=True, timeout=560, cwd=REPO,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "ALL OK" in r.stdout
    import __spark_entry__ as entry

    built = sum(1 for row in entry.REGISTRY if not entry.skip_reason(row))
    assert f"{built} registry rows audited" in r.stdout
