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


def _audit():
    import importlib.util

    path = ROOT / "tools" / "audit_reachability.py"
    spec = importlib.util.spec_from_file_location("audit_reachability", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    return audit


def test_audit_counts_module_constants_as_defs():
    """A module-level constant is audited like a def; subscript and
    attribute stores and dunders are uses, not constants."""
    import ast

    audit = _audit()

    def defined(src):
        return audit._defined(ast.parse(src).body[0])

    assert defined("X = 1") == defined("X: int = 1") == {"X"}
    assert defined("A, (B, *C) = f()") == {"A", "B", "C"}
    assert defined("d['k'] = 1") == defined("os.sep = '/'") == set()
    assert defined("__all__ = []") == defined("X: int") == set()


def test_audit_flags_allowlisted_def_named_only_in_its_module():
    """An allowlist entry whose def no other file names, tests
    included, is stale: nothing uses it at all. Pure AST, no Spark."""
    import ast

    audit = _audit()
    home = "pkg/ops.py"
    named = {
        home: audit._names(ast.parse("def lone(): pass\ndef kept(): lone()")),
        "tests/test_ops.py": audit._names(
            ast.parse("from pkg.ops import kept\nkept()")
        ),
    }
    defs = {"lone": [f"{home}:1"], "kept": [f"{home}:2"], "live": [f"{home}:3"]}
    allow = {"lone": "", "kept": "", "live": "", "gone": ""}
    # lone: named only at home; live: reached without the allowlist;
    # gone: no such def; kept: a test names it, so it stays
    assert audit.stale_entries(allow, defs, {"live"}, named) == ["gone", "live", "lone"]
