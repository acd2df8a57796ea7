"""Every package module and every recorded-evidence script under
``scripts/`` still imports.

Both checks run in a fresh interpreter and start no Spark session.
``--help`` makes argparse exit before any Spark session starts, so the
script check covers module-level imports (the package and
``scripts/_common.py``) without running a measurement. Underscore
modules are shared helpers, not scripts.
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


#: imports every module under the package; an ImportError in a package
#: ``__init__`` is re-raised (``walk_packages`` swallows it by default)
_IMPORT_ALL = """
import importlib, pkgutil
import poi_name_matching_spark as pkg

def reraise(name):
    raise

names = [
    m.name
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".", onerror=reraise)
]
for name in names:
    importlib.import_module(name)
print(len(names))
"""


def test_every_package_module_imports():
    """A deletion that leaves a dangling import fails here, before any
    Spark test reaches the module."""
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert int(proc.stdout.split()[-1]) > 20
