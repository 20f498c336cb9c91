"""Every import in the engine, its tests and its harnesses is used in
the scope that makes it.

Pure AST, no Spark: each module-level and function-local import in
``map_reduce_rpc_spark/**/*.py`` (package ``__init__`` files excepted,
where imports are the public surface), ``tests/*.py``, ``bench.py`` and
``scripts/*.py`` must bind a name that its scope reads. ``perfbench/``
is left out: it imports the engine entry point for its side effect. A read inside a nested function or class counts unless that
scope binds the name itself; a name inside a string annotation
(``"pd.DataFrame"``) counts too.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "map_reduce_rpc_spark"

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
_SCOPES = _FUNCS + (ast.ClassDef,)


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside its nested scopes (the nested scope
    node itself is yielded, its body is not)."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _bound_name(alias: ast.alias) -> str:
    return alias.asname or alias.name.split(".")[0]


def _string_names(node: ast.AST) -> set[str]:
    """Names read inside string annotations under ``node``."""
    out: set[str] = set()
    for c in ast.walk(node):
        if isinstance(c, ast.Constant) and isinstance(c.value, str):
            try:
                tree = ast.parse(c.value, mode="eval")
            except SyntaxError:
                continue
            out.update(n.id for n in ast.walk(tree) if isinstance(n, ast.Name))
    return out


def _scan(scope: ast.AST, unused: list[tuple[int, str]]) -> tuple[set[str], set[str]]:
    """(reads, binds) of ``scope``: the names it reads, counting reads
    in nested scopes that do not rebind them, and the names it binds.
    Appends each import of a module or function scope whose name the
    scope never reads to ``unused``."""
    reads: set[str] = set()
    binds: set[str] = set()
    imports: list[tuple[int, str]] = []
    if isinstance(scope, _FUNCS):
        a = scope.args
        for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
            if arg is not None:
                binds.add(arg.arg)
                if arg.annotation is not None:
                    reads |= _string_names(arg.annotation)
        if getattr(scope, "returns", None) is not None:
            reads |= _string_names(scope.returns)
    for node in _own_nodes(scope):
        if isinstance(node, ast.Name):
            (binds if isinstance(node.ctx, ast.Store) else reads).add(node.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            if not (isinstance(node, ast.ImportFrom) and node.module == "__future__"):
                names = [_bound_name(a) for a in node.names]
                binds.update(names)
                imports += [(node.lineno, n) for n in names]
        elif isinstance(node, ast.AnnAssign):
            reads |= _string_names(node.annotation)
        elif isinstance(node, _SCOPES):
            inner_reads, inner_binds = _scan(node, unused)
            reads |= inner_reads - inner_binds
    if not isinstance(scope, ast.ClassDef):
        unused += [(line, n) for line, n in imports if n not in reads]
    return reads, binds


def _unused(source: str) -> list[tuple[int, str]]:
    """(line, name) of every import in ``source`` whose scope never
    reads the name it binds."""
    found: list[tuple[int, str]] = []
    _scan(ast.parse(source), found)
    return sorted(found)


SAMPLE = """
import os
import re
from typing import Any


def f(x: "Any"):
    import json
    import pandas as pd

    def g(re):
        return re, pd

    return os.path
"""


def test_engine_has_no_unused_imports():
    # the scanner itself: a function-local import read nowhere (json)
    # and a module import read only where a nested scope rebinds it
    # (re) are flagged; a string annotation and a nested read count
    assert _unused(SAMPLE) == [(3, "re"), (8, "json")]
    files = sorted(p for p in ENGINE.rglob("*.py") if p.name != "__init__.py")
    files += [*sorted(ROOT.glob("tests/*.py")), ROOT / "bench.py", *sorted(ROOT.glob("scripts/*.py"))]
    assert files
    unused = [
        f"{p.relative_to(ROOT)}:{line} {name}"
        for p in files
        for line, name in _unused(p.read_text())
    ]
    assert unused == []
