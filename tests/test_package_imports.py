"""Every package module imports cleanly: no module left importing a deleted
one, and no SyntaxWarning or DeprecationWarning raised at import time.
Every public package definition has a use outside the tests, and no module
reaches into the versioned-sink commit protocol's private names."""

from __future__ import annotations

import ast
import glob
import os
import re
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


# Kept without a caller in the system: the reference's Postgres sink
# (PAPER.md L1/L2), and the one state-rewrite API of the versioned sink.
_UNUSED_ALLOWED_MODULES = {"operators/jdbc.py"}
_UNUSED_ALLOWED = {
    ("operators/versioned.py", name)
    for name in ("commit_version", "read_current", "merge_upsert_versioned")
}
_PKG = "youtube_api_data_etl_automation_spark"
_WORD = re.compile(r"\w+\Z")


def _names(node) -> set[str]:
    """Every identifier ``node`` names: Name and Attribute ids, import
    aliases, and word-shaped string constants (registry keys, getattr)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _WORD.match(n.value)):
            out.add(n.value)
    return out


def _targets(stmt) -> list:
    return stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]


def _is_query(deco) -> bool:
    return (isinstance(deco, ast.Call) and isinstance(deco.func, ast.Name)
            and deco.func.id == "query")


def _unused_definitions() -> list[str]:
    """Public top-level package definitions that nothing the system runs
    uses: the package's own code (not ``__init__`` re-exports, not a
    definition's own body), ``__spark_entry__.py``, ``bench.py``,
    ``tools/`` and ``perfbench/`` (not its tests). Uses inside an unused
    definition do not count, so whatever only dead code calls is dead
    too (fixed point)."""
    defs: dict[tuple[str, str], set[str]] = {}
    live: set[str] = set()
    pkg_dir = os.path.join(ROOT, _PKG)
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                                 recursive=True)):
        if os.path.basename(path) == "__init__.py":
            continue
        rel = os.path.relpath(path, pkg_dir)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                body: set[str] = set()
                for part in ast.iter_child_nodes(stmt):
                    if part not in stmt.decorator_list:
                        body |= _names(part)
                defs[(rel, stmt.name)] = body - {stmt.name}
                for deco in stmt.decorator_list:
                    live |= _names(deco)
                    if _is_query(deco):  # registered: QUERIES reaches it
                        live.add(stmt.name)
            elif (isinstance(stmt, (ast.Assign, ast.AnnAssign))
                  and all(isinstance(t, ast.Name) for t in _targets(stmt))):
                for t in _targets(stmt):
                    defs[(rel, t.id)] = (
                        _names(stmt.value) if stmt.value else set())
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # a module-level import is a use only through the name it
                # binds; an alias links the two names
                for a in stmt.names:
                    if a.asname and a.asname != a.name:
                        defs[(rel, a.asname)] = {a.name.rpartition(".")[2]}
            else:
                live |= _names(stmt)
    entries = [os.path.join(ROOT, "__spark_entry__.py"),
               os.path.join(ROOT, "bench.py")]
    entries += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    entries += [p for p in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
                if not os.path.basename(p).startswith("test_")]
    for path in entries:
        with open(path, encoding="utf-8") as f:
            live |= _names(ast.parse(f.read()))
    roots = {k for k in defs
             if k[0] in _UNUSED_ALLOWED_MODULES or k in _UNUSED_ALLOWED}
    used: set[tuple[str, str]] = set()
    while True:
        names = set(live)
        for k in used | roots:
            names |= defs[k]
        now = {k for k in defs if k[1] in names}
        if now == used:
            break
        used = now
    return sorted(
        f"{rel}::{name}" for rel, name in defs
        if not name.startswith("_") and (rel, name) not in used | roots
    )


def test_every_public_definition_has_a_non_test_use():
    """Package code that only tests reach is dead weight: each public
    top-level function, class and constant must be reached from the query
    registry, the CLI, bench.py, tools/ or perfbench/ (allowlist above)."""
    unused = _unused_definitions()
    assert not unused, "no non-test use:\n" + "\n".join(unused)


def test_no_module_imports_private_versioned_names():
    """operators/versioned.py owns the commit protocol (staging, publish,
    GC, manifest format): every other package module goes through its
    public API, so a second copy of the protocol cannot creep back in."""
    pkg_dir = os.path.join(ROOT, _PKG)
    own = os.path.join(pkg_dir, "operators", "versioned.py")
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                                 recursive=True)):
        if path == own:
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").rpartition(".")[2] == "versioned"):
                offenders += [
                    f"{os.path.relpath(path, pkg_dir)}:{node.lineno} {a.name}"
                    for a in node.names if a.name.startswith("_")
                ]
    assert not offenders, "private versioned.py names imported:\n" + \
        "\n".join(offenders)


_TRIAGE_ROUTERS = {("operators/mediameta.py", "triage_decode_images"),
                   ("operators/mediameta.py", "triage_decode_audio")}
# the sequence packer's token budget shapes output; it refuses no input
_TOKEN_BUDGETS = {("operators/packing.py", "pack_sequences", "budget"),
                  ("corpus.py", "curate_corpus", "pack_budget")}


def _is_budget(arg: str) -> bool:
    return arg in ("budget", "max_pixels", "max_samples") or \
        arg.endswith("_budget")


def test_one_quarantine_contract_for_payload_operators():
    """Every payload operator returns its quarantine shape through the one
    harness in operators/multimodal.py: no package function takes an
    ``errors`` mode or a decode budget (budgets are module constants,
    refused through ``multimodal.check_budget``), and no other module
    turns DECODE_ERRORS into rows itself — except the triage routers,
    whose route column records which stage (probe or decode) refused."""
    pkg_dir = os.path.join(ROOT, _PKG)
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, pkg_dir)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                for p in a.posonlyargs + a.args + a.kwonlyargs:
                    key = (rel, getattr(node, "name", None), p.arg)
                    if p.arg == "errors" or (
                            _is_budget(p.arg) and key not in _TOKEN_BUDGETS):
                        offenders.append(
                            f"{rel}:{node.lineno} {p.arg} parameter")
        if rel == os.path.join("operators", "multimodal.py"):
            continue
        for top in tree.body:
            if (rel, getattr(top, "name", None)) in _TRIAGE_ROUTERS:
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.ExceptHandler) and node.type and \
                        "DECODE_ERRORS" in _names(node.type):
                    offenders.append(f"{rel}:{node.lineno} catches "
                                     "DECODE_ERRORS")
    assert not offenders, "second quarantine path:\n" + "\n".join(offenders)
