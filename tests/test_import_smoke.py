"""Import smoke: every package module and every tools/*.py script imports
in a fresh interpreter without starting a SparkSession, so a deletion that
leaves a dangling import fails here in seconds."""

from __future__ import annotations

import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import importlib, os, pkgutil, sys

root = sys.argv[1]
sys.path.insert(0, root)
import crdb_changefeed_publisher_spark as pkg

names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
names += [
    "tools." + f[:-3]
    for f in sorted(os.listdir(os.path.join(root, "tools")))
    if f.endswith(".py") and f != "__init__.py"
]
failed = []
for name in names:
    try:
        importlib.import_module(name)
    except Exception as e:  # noqa: BLE001
        failed.append(f"{name}: {type(e).__name__}: {e}")
from pyspark import SparkContext

print("\n".join(failed))
sys.exit(2 if SparkContext._active_spark_context is not None else 0)
"""


def test_every_module_and_tool_imports_without_spark():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO_ROOT,
    )
    assert proc.returncode != 2, "an import started a SparkContext"
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert not proc.stdout.strip(), proc.stdout
