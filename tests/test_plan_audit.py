"""Physical-plan properties as a continuous gate: the audit script
asserts partition pruning, predicate pushdown, column pruning, broadcast
joins, and TakeOrderedAndProject on the engine's key plans (the
properties that decide 100 TB viability) and exits non-zero on any
regression. Run in a subprocess: the script builds its own Spark
session with a different master than the shared test fixture."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_explain_audit_passes(tmp_path):
    out = tmp_path / "PLANS.md"
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "explain_audit.py"),
         "--out", str(out)],
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-2000:]
    # the dump goes where --out says (the committed BENCH/PLANS.md is
    # regenerated only on explicit request), with temp paths normalized
    dump = out.read_text()
    assert "## Impact store write" in dump
    assert "<tmp>/audit_idx/idx/postings_stage" in dump
    assert "/audit_idx_" not in dump
