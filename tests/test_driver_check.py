"""tests/driver_check.py records which code its artifact replayed, and
``--stale`` flags an artifact the code has moved past (no Spark)."""

import json
import os
import subprocess
import sys

from tests import driver_check as DC


def test_stale_flags_changed_or_missing_digest(tmp_path):
    art = tmp_path / "CORRECTNESS.json"
    art.write_text(json.dumps({"code_digest": DC.code_digest()}))
    assert DC.stale(str(art)) == 0
    art.write_text(json.dumps({"code_digest": "0" * 64}))
    assert DC.stale(str(art)) == 1
    art.write_text(json.dumps({"n_entries": 113}))
    p = subprocess.run(
        [sys.executable, os.path.join(DC.ROOT, "tests", "driver_check.py"),
         "--stale", str(art)], capture_output=True, text=True, timeout=60)
    assert p.returncode == 1 and "STALE" in p.stdout


def test_digest_covers_package_and_entry(tmp_path, monkeypatch):
    """The digest moves with any package or entry-point byte, and not
    with bytecode caches."""
    pkg = tmp_path / "search_engine_spark"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (tmp_path / "__spark_entry__.py").write_text("def entry(): pass\n")
    monkeypatch.setattr(DC, "ROOT", str(tmp_path))
    base = DC.code_digest()
    (pkg / "__pycache__" / "a.cpython-311.pyc").write_bytes(b"\0")
    assert DC.code_digest() == base
    (pkg / "a.py").write_text("x = 2\n")
    changed = DC.code_digest()
    assert changed != base
    (tmp_path / "__spark_entry__.py").write_text("def entry(): return 1\n")
    assert DC.code_digest() not in (base, changed)
