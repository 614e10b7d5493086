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
