"""No package def that only tests reach (``tools/audit_reachability.py``)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_every_package_def_is_reached_outside_tests():
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "audit_reachability.py")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stdout + out.stderr


def test_audit_counts_module_constants_as_defs():
    """A module-level constant is audited like a def; subscript and
    attribute stores and dunders are uses, not constants."""
    import ast
    import importlib.util

    path = ROOT / "tools" / "audit_reachability.py"
    spec = importlib.util.spec_from_file_location("audit_reachability", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    def defined(src):
        return audit._defined(ast.parse(src).body[0])

    assert defined("X = 1") == defined("X: int = 1") == {"X"}
    assert defined("A, (B, *C) = f()") == {"A", "B", "C"}
    assert defined("d['k'] = 1") == defined("os.sep = '/'") == set()
    assert defined("__all__ = []") == defined("X: int") == set()
