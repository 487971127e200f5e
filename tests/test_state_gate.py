"""The package keeps its driver-side state in one module: a static scan
of ``kafka_parquet_writer_spark/`` finds no temp dir or exit hook made
outside ``artifacts.py``, and no function outside ``artifacts.py``,
``catalog.py`` (its locked schema memo) and ``registry.py`` (the key
registry) that writes into a module-level dict, list or set."""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_parquet_writer_spark",
)

#: modules allowed to keep module-level containers they write to
STATE_MODULES = {"artifacts.py", "catalog.py", "registry.py"}

#: calls that make a temp dir or an exit hook
SCRATCH_CALLS = {("tempfile", "mkdtemp"), ("atexit", "register")}

#: methods that mutate a dict, list or set in place
WRITE_METHODS = {"pop", "setdefault", "update", "append", "add", "clear", "popitem"}

#: constructors whose result is a mutable container
CONTAINER_CALLS = {"dict", "list", "set", "defaultdict", "OrderedDict", "deque"}


def _modules() -> list[tuple[str, ast.Module]]:
    out = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    out.append((os.path.relpath(path, PKG), ast.parse(f.read())))
    return out


def _is_container(value: ast.expr | None) -> bool:
    if isinstance(value, (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp, ast.SetComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in CONTAINER_CALLS
    return False


def _module_containers(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and _is_container(node.value):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif isinstance(node, ast.AnnAssign) and _is_container(node.value):
            if isinstance(node.target, ast.Name):
                names.add(node.target.id)
    return names


def _base_name(node: ast.expr) -> str | None:
    while isinstance(node, ast.Subscript):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _local_names(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> set[str]:
    """Names ``fn`` binds itself (its arguments and plain assignments),
    minus those it declares global."""
    a = fn.args
    local = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    local |= {x.arg for x in (a.vararg, a.kwarg) if x}
    declared_global = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            local.add(node.id)
        elif isinstance(node, ast.Global):
            declared_global |= set(node.names)
    return local - declared_global


def _writes(fn, containers: set[str]) -> list[tuple[int, str]]:
    shared = containers - _local_names(fn)
    hits = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
            name = _base_name(node.value)
            if name in shared:
                hits.append((node.lineno, f"{name}[...] store/delete"))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in WRITE_METHODS
        ):
            name = _base_name(node.func.value)
            if name in shared:
                hits.append((node.lineno, f"{name}.{node.func.attr}(...)"))
    return hits


def test_temp_dirs_and_exit_hooks_only_in_artifacts():
    found = []
    for rel, tree in _modules():
        if rel == "artifacts.py":
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and (node.func.value.id, node.func.attr) in SCRATCH_CALLS
            ):
                found.append(f"{rel}:{node.lineno}")
    assert found == [], "use artifacts.scratch: " + ", ".join(found)


def _tree_writes(tree: ast.Module) -> set[tuple[int, str]]:
    """Every write into one of ``tree``'s module-level containers made
    by a function (a nested function's is seen once)."""
    containers = _module_containers(tree)
    return {
        hit
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for hit in _writes(node, containers)
    }


def test_module_level_containers_written_only_by_state_modules():
    found = []
    for rel, tree in _modules():
        if os.path.basename(rel) in STATE_MODULES and os.path.dirname(rel) == "":
            continue
        found += [f"{rel}:{ln} {what}" for ln, what in sorted(_tree_writes(tree))]
    assert found == [], "keep state in artifacts.memo: " + ", ".join(found)


@pytest.mark.parametrize(
    "src,hits",
    [
        ("_m: dict = {}\ndef f(k):\n    _m[k] = 1\n", 1),
        ("_m = set()\ndef f(k):\n    _m.add(k)\n", 1),
        ("_m = []\ndef f():\n    def g():\n        _m.append(1)\n", 1),
        ("_m = {}\ndef f(k):\n    del _m[k]\n", 1),
        ("_m = {}\ndef f(k):\n    _m = {}\n    _m[k] = 1\n", 0),
        ("_m = {}\ndef f(k):\n    return _m.get(k)\n", 0),
        ("last = None\ndef f(q):\n    global last\n    last = q\n", 0),
    ],
)
def test_gate_sees_writes(src, hits):
    """The scanner flags stores, deletes and mutating calls on a
    module-level container, also from a nested function, and ignores
    reads, local shadows and rebinding of a non-container."""
    assert len(_tree_writes(ast.parse(src))) == hits
