"""Import smoke: every package module and every tools/*.py script imports
in a fresh interpreter without starting a SparkSession, so a deletion that
leaves a dangling import fails here in seconds."""

from __future__ import annotations

import ast
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


PKG = "crdb_changefeed_publisher_spark"
# The live entry points: the CDC publisher CLI, the query registry (its
# package __init__ imports every spec module) and the changefeed source.
ENTRY_POINTS = (f"{PKG}.cli", f"{PKG}.plans", f"{PKG}.sources.crdb_changefeed")
# Outside the closure and due for deletion in its own feature slice
# (ROADMAP direction 4), together with the tests that cover it. The test
# requires an exact match, so this set can only shrink: a module that
# joins the closure, is deleted or newly falls outside it fails the test
# until the set is updated.
PENDING_DELETION = {f"{PKG}.streaming.table_sink"}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every .py file in the package;
    a package's __init__.py maps to the package name itself."""
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(REPO_ROOT, PKG)):
        rel = os.path.relpath(dirpath, REPO_ROOT).split(os.sep)
        for f in files:
            if f.endswith(".py"):
                parts = rel if f == "__init__.py" else rel + [f[:-3]]
                mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _imported_names(name: str, path: str, is_pkg: bool):
    """Every module name an `import` / `from ... import` anywhere in the file
    (function-local ones included) may load; `from a import b` yields both
    `a` and `a.b`, since b may be a submodule."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here[: len(here) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _import_closure(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        name = todo.pop()
        if name in seen or name not in mods:
            continue
        seen.add(name)
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        todo.extend(name.rsplit(".", i)[0] for i in range(1, name.count(".") + 1))
        is_pkg = mods[name].endswith("__init__.py")
        todo.extend(_imported_names(name, mods[name], is_pkg))
    return seen


def test_every_package_module_is_reached_from_a_live_entry_point():
    """Static, Spark-free: a package module that neither the CLI, the query
    registry nor the changefeed source imports (transitively) is code no
    query, CDC path or benchmark runs. Package __init__s count as reached;
    the only modules allowed outside are those in PENDING_DELETION."""
    mods = _package_modules()
    assert all(e in mods for e in ENTRY_POINTS), ENTRY_POINTS
    reached = _import_closure(mods)
    unreached = sorted(
        m for m, p in mods.items() if m not in reached and not p.endswith("__init__.py")
    )
    assert unreached == sorted(PENDING_DELETION), (
        f"modules outside the live import closure: {unreached}; "
        f"pending deletion: {sorted(PENDING_DELETION)}"
    )


def _unused_imports(path: str) -> list[tuple[int, str]]:
    """Names an import statement anywhere in the file binds that no name
    in the file reads (`import a.b` binds `a`); `__future__` imports and
    lines marked `# noqa` are skipped."""
    with open(path) as fh:
        src = fh.read()
    lines = src.splitlines()
    tree = ast.parse(src, path)
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.name == "*" or "# noqa" in lines[node.lineno - 1] + lines[a.lineno - 1]:
                    continue
                bound.setdefault(a.asname or a.name.split(".")[0], a.lineno)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [(line, name) for name, line in bound.items() if name not in used]


def test_no_unused_imports():
    """Static, Spark-free: every import in the package, tools/ and tests/
    is used by its module (package __init__ files re-export, so they are
    not checked)."""
    found = []
    for top in (PKG, "tools", "tests"):
        for dirpath, _, files in os.walk(os.path.join(REPO_ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    path = os.path.join(dirpath, f)
                    rel = os.path.relpath(path, REPO_ROOT)
                    found += [f"{rel}:{ln}: {name}" for ln, name in _unused_imports(path)]
    assert not found, "unused imports:\n" + "\n".join(found)


def _session_lifetime_escapes(path: str) -> list[tuple[int, str]]:
    """Reads of `applicationId`, `tempfile.gettempdir()` calls and
    `tempfile.mkdtemp` calls without a `dir`: the ways a module keys state
    on the session, or leaves files behind it, outside session.py."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "applicationId":
            found.append((node.lineno, "applicationId"))
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            has_dir = len(node.args) >= 3 or any(k.arg == "dir" for k in node.keywords)
            if name == "gettempdir" or (name == "mkdtemp" and not has_dir):
                found.append((node.lineno, f"{name}()"))
    return found


def test_session_state_lives_in_session_py():
    """Static, Spark-free: per-session state and scratch go through
    session.py (session_pass, session_dir), so no other package module
    reads the applicationId or makes a temp dir outside the session's."""
    found = []
    for mod, path in sorted(_package_modules().items()):
        if mod != f"{PKG}.session":
            rel = os.path.relpath(path, REPO_ROOT)
            found += [f"{rel}:{ln}: {what}" for ln, what in _session_lifetime_escapes(path)]
    assert not found, "session state outside session.py:\n" + "\n".join(found)
