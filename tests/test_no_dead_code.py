"""Source-scan guard: every top-level function, class and assigned name
in the package has a reader.  A definition nothing references is a
second copy or a leftover, and stays pickable by mistake."""

from __future__ import annotations

import ast
import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pyspark_kmeans_spark"


def _tracked_py_files() -> list[str]:
    """The checkout's tracked *.py files; outside a git work tree (a
    `git archive` export) every *.py under ROOT, skipping dot-dirs."""
    out = subprocess.run(
        ["git", "ls-files", "*.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    if out.returncode == 0 and out.stdout:
        return [os.path.join(ROOT, p) for p in out.stdout.splitlines()]
    found = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        found += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return found


def _docstring_nodes(tree: ast.AST) -> set[int]:
    """ids of the string statements that only document (docstrings and
    bare string expressions) — like comments, they reference nothing."""
    return {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    }


def _references(tree: ast.AST) -> tuple[set[str], list[str]]:
    """(identifiers read as names, attributes or imports; non-docstring
    string constants — registry and span names like "mod.fn").  An
    assignment target is a definition, not a reference."""
    names: set[str] = set()
    strings: list[str] = []
    docs = _docstring_nodes(tree)
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
        ):
            strings.append(n.value)
    return names, strings


def _top_level_names(tree: ast.Module) -> list[str]:
    """Names a module defines at top level: functions, classes and the
    targets of plain or annotated assignments (`__all__` excepted — the
    import machinery reads it)."""
    names = []
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(n.name)
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            names += [
                t.id
                for t in targets
                if isinstance(t, ast.Name) and t.id != "__all__"
            ]
    return names


def test_every_package_definition_has_a_reference():
    defs: list[tuple[str, str]] = []
    names: set[str] = set()
    strings: list[str] = []
    for path in _tracked_py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
        if rel.startswith(PKG + "/"):
            defs += [(rel, name) for name in _top_level_names(tree)]
        file_names, file_strings = _references(tree)
        names |= file_names
        strings += file_strings
    assert defs, "scan found no package definitions"
    unreferenced = [
        f"{rel}:{name}"
        for rel, name in defs
        if name not in names
        and not any(re.search(rf"(?<!\w){re.escape(name)}$", s) for s in strings)
    ]
    assert not unreferenced, unreferenced
