"""Session-lifetime caches live in one registry (caches.py), which
``session.release_all`` drains. A ``WeakKeyDictionary`` keyed on the
session anywhere else in the package is a cache that release_all
cannot see, the bug class that once left the dim cache pinned."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "mysql_to_clickhouse_spark"

# the registry itself, and the analysed-plan cache that release_all
# leaves alone on purpose (plans only, no executor memory)
ALLOWED = {("caches.py", "_CACHES"), ("tables.py", "_LOAD_CACHE")}


def _is_weak_key_dict(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
    return name == "WeakKeyDictionary"


def test_no_weak_key_dictionary_outside_the_registry():
    assigned, calls = set(), 0
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            calls += _is_weak_key_dict(node)
            if isinstance(node, ast.Assign) and _is_weak_key_dict(node.value):
                assigned |= {(rel, ast.unparse(t)) for t in node.targets}
            elif isinstance(node, ast.AnnAssign) and _is_weak_key_dict(node.value):
                assigned.add((rel, ast.unparse(node.target)))
    assert assigned == ALLOWED
    # no WeakKeyDictionary built anywhere but in those two assignments
    assert calls == len(ALLOWED)
