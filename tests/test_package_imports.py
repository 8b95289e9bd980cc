"""Every package module imports cleanly: no module left importing a deleted
one, and no SyntaxWarning or DeprecationWarning raised at import time."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: modules this test session already imported
# would not execute again, and a fresh bytecode cache makes the compiler
# re-emit SyntaxWarnings that a cached .pyc would hide.
_IMPORT_ALL = """
import importlib, pkgutil, traceback
import youtube_api_data_etl_automation_spark as pkg

names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
failed = []
for name in names:
    try:
        importlib.import_module(name)
    except Exception:
        failed.append(name + "\\n" + traceback.format_exc())
print(len(names))
print("\\n".join(failed))
"""


def test_every_package_module_imports_without_warnings(tmp_path):
    env = dict(os.environ, PYTHONPYCACHEPREFIX=str(tmp_path), PYTHONPATH=ROOT)
    proc = subprocess.run(
        [
            sys.executable,
            "-W", "error::SyntaxWarning",
            "-W", "error::DeprecationWarning",
            "-c", _IMPORT_ALL,
        ],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    count, _, failed = proc.stdout.partition("\n")
    assert int(count) > 0
    assert not failed.strip(), failed
