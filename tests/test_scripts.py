"""Every recorded-evidence script under ``scripts/`` still imports.

``--help`` makes argparse exit before any Spark session starts, so this
checks module-level imports (the package and ``scripts/_common.py``)
without running a measurement. Underscore modules are shared helpers,
not scripts.
"""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    f
    for f in os.listdir(os.path.join(ROOT, "scripts"))
    if f.endswith(".py") and not f.startswith("_")
)


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_help_exits_zero(name):
    proc = subprocess.run(
        [sys.executable, os.path.join("scripts", name), "--help"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
