"""Design guard: session state lives in one place.

Every value the engine keeps between queries belongs in
map_reduce_indexing_spark/state.py, which owns the locking, versioning,
bounds and application scoping. This test AST-scans the package so a
module-level cache with its own lock, or a cache key built from
``applicationId``, cannot quietly grow back elsewhere.
"""

from __future__ import annotations

import ast
import os

import map_reduce_indexing_spark

PKG = os.path.dirname(map_reduce_indexing_spark.__file__)

# The one module-level lock outside state.py: it serializes a Spark
# conf toggle around streaming micro-batches, and guards no cached state.
LOCK_ALLOWED = {("streaming/events.py", "_SHUFFLE_CONF_LOCK")}


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                if rel != "state.py":
                    with open(path) as f:
                        yield rel, ast.parse(f.read(), filename=path)


def _is_lock_call(node) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name in ("Lock", "RLock")


def _module_level_nodes(tree):
    """Nodes evaluated at import time: everything outside function
    bodies (class bodies run at import too)."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def test_no_module_level_locks_outside_state():
    found = []
    for rel, tree in _modules():
        nodes = list(_module_level_nodes(tree))
        allowed = {
            id(n.value)
            for n in nodes
            if isinstance(n, ast.Assign)
            and any((rel, getattr(t, "id", None)) in LOCK_ALLOWED for t in n.targets)
        }
        found += [
            f"{rel}:{n.lineno}"
            for n in nodes
            if _is_lock_call(n) and id(n) not in allowed
        ]
    assert not found, f"module-level locks outside state.py: {found}"


def test_application_id_only_names_workdirs():
    """Outside state.py, `applicationId` may only name a per-application
    filesystem path: an f-string argument of os.path.join."""
    found = []
    for rel, tree in _modules():
        allowed = set()
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and ast.unparse(node.func.value) == "os.path"
            ):
                for arg in node.args:
                    if isinstance(arg, ast.JoinedStr):
                        allowed.update(id(n) for n in ast.walk(arg))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "applicationId"
                and id(node) not in allowed
            ):
                found.append(f"{rel}:{node.lineno}")
    assert not found, f"applicationId used outside a workdir path: {found}"
