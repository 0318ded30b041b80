"""Design guards, checked by AST-scanning the package.

Every value the engine keeps between queries belongs in
map_reduce_indexing_spark/state.py, which owns the locking, versioning,
bounds and application scoping: a module-level cache with its own lock,
or a cache key built from ``applicationId``, cannot quietly grow back
elsewhere. The storage tier (``sources/``) does not reach up into
``operators/``, and only ``sources/commitio.py`` binds the ``IO``
backend name.
"""

from __future__ import annotations

import ast
import os

import map_reduce_indexing_spark

PKG = os.path.dirname(map_reduce_indexing_spark.__file__)

# The one module-level lock outside state.py: it serializes a Spark
# conf toggle around streaming micro-batches, and guards no cached state.
LOCK_ALLOWED = {("streaming/events.py", "_SHUFFLE_CONF_LOCK")}

# The one storage-tier import of an operator module: export.py writes
# textstats' per-document statistics, and imports them at module level.
SOURCES_UP_ALLOWED = {("sources/export.py", "operators.textstats")}


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


def _imports(rel, tree):
    """(node, module) for every import in a module, the module dotted
    relative to the package root ("operators.indexing")."""
    pkg = rel.split("/")[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node, a.name.removeprefix("map_reduce_indexing_spark.")
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg[: len(pkg) - (node.level - 1)]
            else:
                base = []
            mod = ".".join(base + ([node.module] if node.module else []))
            mod = mod.removeprefix("map_reduce_indexing_spark.")
            if node.module:
                yield node, mod
            else:  # `from .. import operators`
                for a in node.names:
                    yield node, f"{mod}.{a.name}".lstrip(".")


def test_storage_tier_does_not_import_operators():
    found = []
    for rel, tree in _modules():
        if not rel.startswith("sources/"):
            continue
        top = {id(n) for n in tree.body}
        for node, mod in _imports(rel, tree):
            if mod.split(".")[0] != "operators":
                continue
            if id(node) in top and (rel, mod) in SOURCES_UP_ALLOWED:
                continue
            found.append(f"{rel}:{node.lineno} {mod}")
    assert not found, f"sources/ imports from operators/: {found}"


def test_only_commitio_binds_the_backend():
    """`using_backend` swaps the module attribute `commitio.IO`. A
    module that binds the name itself (`from .commitio import IO`)
    holds whatever backend was current when the binding ran, so callers
    must look it up as `commitio.IO`."""
    found = []
    for rel, tree in _modules():
        if rel == "sources/commitio.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and any(
                "IO" in (a.name, a.asname) for a in node.names
            ):
                found.append(f"{rel}:{node.lineno}")
            elif (
                isinstance(node, ast.Name)
                and node.id == "IO"
                and isinstance(node.ctx, ast.Store)
            ):
                found.append(f"{rel}:{node.lineno}")
    assert not found, f"modules binding commitio's IO: {found}"


# Store directories are replaced in exactly one place: a staging dir is
# made, filled and swapped in by generations.staged_rewrite, and the swap
# itself is the commit backend's. The two other staging dirs are not
# swapped in: a session artifact's fresh build dir, and the private dir
# an optimistic append places its files from.
SWAP_CALLERS = {("sources/generations.py", "staged_rewrite")}
MKDTEMP_CALLERS = SWAP_CALLERS | {
    ("sources/artifacts.py", "session_artifact_path"),
    ("sources/generations.py", "append_rows"),
}


def _calls_in_functions(tree):
    """(enclosing top-level function name or None, call node) for every
    call in a module."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, fn or child.name)
            else:
                if isinstance(child, ast.Call):
                    yield fn, child
                yield from walk(child, fn)

    yield from walk(tree, None)


def _call_name(call) -> str:
    return ast.unparse(call.func)


def test_one_staged_rewrite_path():
    """`publish_swap` is called only by commitio itself and by the
    staged-rewrite primitive; `tempfile.mkdtemp` only by the primitive
    and the two non-swapping staging dirs; and outside commitio,
    `os.replace`/`os.rename` only move a `tmp` file over its final name
    (the per-file atomic write) — never a store directory."""
    found = []
    for rel, tree in _modules():
        if rel == "sources/commitio.py":
            continue
        for fn, call in _calls_in_functions(tree):
            name = _call_name(call)
            where = f"{rel}:{call.lineno} {name} in {fn}"
            if name.endswith(".publish_swap") and (rel, fn) not in SWAP_CALLERS:
                found.append(where)
            elif name.endswith("mkdtemp") and (rel, fn) not in MKDTEMP_CALLERS:
                found.append(where)
            elif name in ("os.replace", "os.rename") and not (
                call.args
                and isinstance(call.args[0], ast.Name)
                and call.args[0].id == "tmp"
            ):
                found.append(where)
    assert not found, f"store swaps outside the staged rewrite: {found}"


# A materialized view is maintained by one engine: a refresh plans and
# reads per-store deltas, and only the build reads whole snapshots.
MATVIEW_DIFF_CALLERS = {"_refresh_locked", "_signed_changes"}
MATVIEW_BUILDERS = {"create_matview_join", "_rebuild_locked"}


def test_one_matview_engine():
    """In operators/matview.py only `_refresh_locked` and
    `_signed_changes` plan or read generation deltas (`diff_plan`,
    `generation_diff`, `generation_changes`), and only
    `create_matview_join` and `_rebuild_locked` build a view from full
    snapshot reads: `read_generation` is called only by `_joined`, which
    the builders call bare and `_refresh_locked` calls only with a
    `delta=` term (the other stores' sides of a telescoping term)."""
    tree = dict(_modules())["operators/matview.py"]
    defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert MATVIEW_DIFF_CALLERS | MATVIEW_BUILDERS | {"_joined"} <= defined
    found = []
    for fn, call in _calls_in_functions(tree):
        name = _call_name(call)
        where = f"{call.lineno} {name} in {fn}"
        if name in ("diff_plan", "generation_diff", "generation_changes"):
            if fn not in MATVIEW_DIFF_CALLERS:
                found.append(where)
        elif name == "read_generation" and fn != "_joined":
            found.append(where)
        elif name == "_joined":
            is_term = len(call.args) > 3 or any(
                k.arg == "delta" for k in call.keywords
            )
            if fn not in MATVIEW_BUILDERS | {"_refresh_locked"} or (
                fn == "_refresh_locked"
            ) != is_term:
                found.append(where)
    assert not found, f"matview snapshot/delta reads off the one path: {found}"


# A store is appended to in one way: `generations.locked_append` takes
# the lock, heals, adopts and settles unpublished files, and
# `generations.publish_append` writes and publishes; a gated batch is
# split by `expectations.gate`. The demo-store fixture builders in these
# two modules build private stores inside session artifacts.
APPEND_FIXTURE_BUILDERS = {"operators/relational_extra.py", "operators/dedup.py"}
APPEND_INTERNALS = {
    "ensure_base_generation",
    "publish_generation",
    "gate_eval",
    "_publish",
    "reachable_files",
}
GATE_INTERNALS = {"gate_eval", "_violation_flags", "pin_once"}


def test_one_append_path():
    """Outside sources/generations.py (and the fixture builders), no
    function publishes a generation, adopts a base generation, settles
    unpublished files or evaluates an expectations gate itself; and
    nowhere but `expectations.gate` pins, counts or splits a gated
    batch."""
    found = []
    for rel, tree in _modules():
        for fn, call in _calls_in_functions(tree):
            name = _call_name(call).rsplit(".", 1)[-1]
            where = f"{rel}:{call.lineno} {name} in {fn}"
            if name in GATE_INTERNALS and (rel, fn) != (
                "sources/expectations.py", "gate"
            ):
                found.append(where)
            elif (
                name in APPEND_INTERNALS
                and rel != "sources/generations.py"
                and rel not in APPEND_FIXTURE_BUILDERS
            ):
                found.append(where)
    assert not found, f"appends outside the one append path: {found}"
