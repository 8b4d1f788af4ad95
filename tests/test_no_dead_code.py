"""Every top-level definition in the engine has a use somewhere in the repo.

Scans every ``.py`` file of the repository (engine, tests, tools, perfbench,
bench.py). A top-level function, class or assigned name in a module under
``warcsum_spark/`` counts as used when it appears as a name, an attribute or
an imported name anywhere outside its own definition. A definition that no
code reads is dead weight: delete it, or give it a caller.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {".git", "spark-warehouse", os.path.join("perfbench", ".work")}
ALLOWED = {"__version__"}


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        dirnames[:] = sorted(
            d for d in dirnames if os.path.normpath(os.path.join(rel, d)) not in SKIP_DIRS
        )
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        ]
    return []


def _uses(tree: ast.AST) -> Counter:
    """How often each name is read as a name, an attribute or an import."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out[node.name.rsplit(".", 1)[-1]] += 1
    return out


def unused_definitions() -> list[str]:
    trees = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), filename=path)
    everywhere = sum((_uses(tree) for tree in trees.values()), Counter())
    engine = os.path.join(ROOT, "warcsum_spark") + os.sep
    dead = []
    for path, tree in trees.items():
        if not path.startswith(engine):
            continue
        for node in tree.body:
            inside = _uses(node)  # recursion or self-reference is no use
            for name in _defined_names(node):
                if name not in ALLOWED and everywhere[name] <= inside[name]:
                    dead.append(f"{os.path.relpath(path, ROOT)}::{name}")
    return sorted(dead)


def test_every_engine_definition_has_a_use():
    dead = unused_definitions()
    assert dead == [], f"{len(dead)} engine definitions with no use: {dead}"
