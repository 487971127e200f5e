"""Content-addressed oracle receipts over each declared key's helper closure.

A green oracle check is evidence only about the code that produced it,
and an operator's behavior depends on more than its decorated body:
shared helpers, module constants and composed sub-keys all count (a
rewrite of the IMI assigner once changed two keys whose bodies were
untouched). So the evidence is keyed by the *content* of the key's
whole call closure.

1. **Closure** — starting from the function registered in
   ``kafka_parquet_writer_spark.registry.QUERIES`` (decorators included:
   the DuckDB oracle SQL lives in the ``@query(...)`` call and is as
   load-bearing as the body), statically walk its AST and transitively
   resolve every in-repo name it references:

   - same-module functions / classes (recursed) and module-level
     constants (their assignment lines),
   - ``from pkg.mod import name`` objects inside the engine package
     (recursed into the defining module),
   - ``module_alias.name`` attribute references where the alias binds an
     engine-package module (``import ...dedup as D`` → ``D._raw_verify``),
   - ``QUERIES["literal"]`` composition (pipeline operators) → recursed
     into the referenced key's own closure.

   The result is a set of (file, start_line, end_line) intervals in the
   current working tree.

2. **Fingerprint** — ``closure_fp`` is a sha256 over the sorted
   ``(relpath, exact source text)`` of those intervals. Line numbers do
   not enter it, so a line shift elsewhere in a file leaves it unchanged;
   any edit inside the closure changes it.

3. **Receipt** — ``tools/verify_oracle.py`` records every key that passes
   in ``ORACLE_RECEIPTS.json`` (one section per SF directory name,
   ``key → {closure_fp, rows, cpus, at}``); a key that fails loses its
   entry, keys not run keep theirs.

4. **Verdict** — a key is STALE iff its current fingerprint has no green
   receipt in the ``sf0.01`` section. ``tests/test_evidence_audit.py``
   fails the suite on any stale key, so an edit to shared code cannot
   ship on an older green.

Usage: ``python tools/evidence_audit.py`` prints an ``N stale of M``
count line, then the stale keys, and exits non-zero if there are any;
``python tools/verify_oracle.py KEY ...`` re-proves them and refreshes
their receipts (with more than half the keys stale, the hint names the
full sweep instead of listing them).
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import sys
from functools import lru_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "kafka_parquet_writer_spark"
RECEIPTS = os.path.join(REPO, "ORACLE_RECEIPTS.json")
#: the SF whose receipts gate the test suite
GATE_SF = "sf0.01"

if REPO not in sys.path:
    sys.path.insert(0, REPO)


# --------------------------------------------------------------- AST side


class _ModuleIndex:
    """Per-module symbol tables for closure resolution."""

    def __init__(self, modname: str, path: str, tree: ast.Module):
        self.modname = modname
        self.path = path
        self.tree = tree
        # top-level defs: name -> node (functions AND classes)
        self.defs: dict[str, ast.AST] = {}
        # module-level constant assignments: name -> [(start, end)]
        self.consts: dict[str, list[tuple[int, int]]] = {}
        # alias -> fully-qualified module (``import a.b as c``)
        self.mod_aliases: dict[str, str] = {}
        # alias -> (module, original name) (``from a.b import x as y``)
        self.obj_imports: dict[str, tuple[str, str]] = {}
        self._index(tree.body)

    def _index(self, body: list[ast.stmt]) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                span = (node.lineno, node.end_lineno or node.lineno)
                for t in node.targets:
                    for name in _target_names(t):
                        self.consts.setdefault(name, []).append(span)
            elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
                span = (node.lineno, node.end_lineno or node.lineno)
                for name in _target_names(node.target):
                    self.consts.setdefault(name, []).append(span)
            elif isinstance(node, ast.Import):
                for al in node.names:
                    self.mod_aliases[al.asname or al.name.split(".")[0]] = al.name
            elif isinstance(node, ast.ImportFrom):
                mod = self._resolve_from(node)
                for al in node.names:
                    if al.name == "*":
                        continue
                    self.obj_imports[al.asname or al.name] = (mod, al.name)
            elif isinstance(node, (ast.If, ast.Try, ast.With)):
                # env-gated module-level defs/imports/constants
                for sub in ast.iter_child_nodes(node):
                    if isinstance(sub, ast.stmt):
                        self._index([sub])
                # ast.iter_child_nodes flattens handlers' bodies poorly;
                # walk explicit block lists instead
                for attr in ("body", "orelse", "finalbody"):
                    self._index(getattr(node, attr, []) or [])
                for h in getattr(node, "handlers", []) or []:
                    self._index(h.body)

    def _resolve_from(self, node: ast.ImportFrom) -> str:
        if node.level == 0:
            return node.module or ""
        parts = self.modname.split(".")
        base = parts[: len(parts) - node.level]
        if node.module:
            base.append(node.module)
        return ".".join(base)


def _target_names(t: ast.expr) -> list[str]:
    if isinstance(t, ast.Name):
        return [t.id]
    if isinstance(t, (ast.Tuple, ast.List)):
        out: list[str] = []
        for e in t.elts:
            out.extend(_target_names(e))
        return out
    return []


@lru_cache(maxsize=None)
def _module_index(modname: str) -> _ModuleIndex | None:
    if not modname.startswith(PKG):
        return None
    try:
        mod = importlib.import_module(modname)
        path = inspect.getsourcefile(mod)
    except Exception:
        return None
    if not path:
        return None
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return _ModuleIndex(modname, path, tree)


def _func_span(node: ast.AST) -> tuple[int, int]:
    """Line span including decorators (the @query oracle SQL)."""
    start = node.lineno
    for dec in getattr(node, "decorator_list", []) or []:
        start = min(start, dec.lineno)
    return (start, node.end_lineno or node.lineno)


def _referenced(node: ast.AST) -> tuple[set[str], set[tuple[str, str]], set[str]]:
    """(bare names, module-alias attribute pairs, QUERIES['k'] keys)."""
    names: set[str] = set()
    attrs: set[tuple[str, str]] = set()
    qkeys: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            attrs.add((n.value.id, n.attr))
        elif (
            isinstance(n, ast.Subscript)
            and isinstance(n.value, ast.Name)
            and n.value.id in ("QUERIES", "ORACLES")
            and isinstance(n.slice, ast.Constant)
            and isinstance(n.slice.value, str)
        ):
            qkeys.add(n.slice.value)
    return names, attrs, qkeys


def closure_of(fn, _stack: frozenset = frozenset()) -> dict[str, set[tuple[int, int]]]:
    """file -> set of (start, end) line intervals the operator's
    behavior transitively depends on, in the current working tree.

    ``_stack`` guards QUERIES["k"] composition against (hypothetical)
    mutual references — without it two keys referencing each other
    would recurse forever, since each closure_of call starts fresh."""
    intervals: dict[str, set[tuple[int, int]]] = {}
    seen: set[tuple[str, str]] = set()  # (modname, symbol)
    seen_keys: set[str] = set(_stack)

    def add(path: str, span: tuple[int, int]) -> None:
        rel = os.path.relpath(path, REPO)
        intervals.setdefault(rel, set()).add(span)

    def visit_symbol(modname: str, symbol: str) -> None:
        if (modname, symbol) in seen:
            return
        seen.add((modname, symbol))
        idx = _module_index(modname)
        if idx is None:
            return
        if symbol in idx.defs:
            node = idx.defs[symbol]
            add(idx.path, _func_span(node))
            visit_node(idx, node)
        elif symbol in idx.consts:
            for span in idx.consts[symbol]:
                add(idx.path, span)
        elif symbol in idx.obj_imports:
            mod, orig = idx.obj_imports[symbol]
            visit_symbol(mod, orig)
        elif symbol in idx.mod_aliases:
            pass  # bare module reference; attributes handled separately

    def visit_node(idx: _ModuleIndex, node: ast.AST) -> None:
        names, attrs, qkeys = _referenced(node)
        # function-LOCAL imports (``from ..dedup import _assign_imi_cells``
        # inside the body — the similarity_ann_imi pattern that a
        # module-level-only index missed on the first run of this tool)
        local_objs: dict[str, tuple[str, str]] = {}
        local_mods: dict[str, str] = {}
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom):
                mod = (
                    n.module or ""
                    if n.level == 0
                    else ".".join(
                        idx.modname.split(".")[: len(idx.modname.split(".")) - n.level]
                        + ([n.module] if n.module else [])
                    )
                )
                for al in n.names:
                    if al.name != "*":
                        local_objs[al.asname or al.name] = (mod, al.name)
            elif isinstance(n, ast.Import):
                for al in n.names:
                    local_mods[al.asname or al.name.split(".")[0]] = al.name
        for name in names:
            if name in ("QUERIES", "ORACLES"):
                continue
            if name in local_objs:
                visit_symbol(*local_objs[name])
            else:
                visit_symbol(idx.modname, name)
        for alias, attr in attrs:
            mod = idx.mod_aliases.get(alias) or local_mods.get(alias)
            if mod is None and alias in local_objs:
                src, orig = local_objs[alias]
                mod = f"{src}.{orig}"
            if mod is None and alias in idx.obj_imports:
                # ``from pkg import operators`` style: object import
                # that is actually a module
                src, orig = idx.obj_imports[alias]
                mod = f"{src}.{orig}"
            if mod and mod.startswith(PKG):
                visit_symbol(mod, attr)
        for key in qkeys:
            visit_query_key(key)

    def visit_query_key(key: str) -> None:
        if key in seen_keys:
            return
        seen_keys.add(key)
        from kafka_parquet_writer_spark.registry import QUERIES

        sub = QUERIES.get(key)
        if sub is not None:
            child = closure_of(sub, _stack=frozenset(seen_keys))
            for rel, spans in child.items():
                intervals.setdefault(rel, set()).update(spans)

    modname = fn.__module__
    idx = _module_index(modname)
    if idx is None:
        return intervals
    node = idx.defs.get(fn.__name__)
    if node is None:
        return intervals
    add(idx.path, _func_span(node))
    visit_node(idx, node)
    return intervals


# ------------------------------------------------------------ fingerprint


@lru_cache(maxsize=None)
def _source_lines(rel: str) -> tuple[str, ...]:
    with open(os.path.join(REPO, rel), encoding="utf-8") as f:
        return tuple(f.read().splitlines(keepends=True))


def closure_fp(fn) -> str:
    """sha256 over the sorted (relpath, source text) of fn's closure."""
    clo = closure_of(fn)
    if not clo:
        raise ValueError(
            f"{fn.__module__}.{fn.__qualname__}: empty closure, nothing to "
            "fingerprint"
        )
    pieces = sorted(
        (rel, "".join(_source_lines(rel)[start - 1 : end]))
        for rel, spans in clo.items()
        for start, end in spans
    )
    h = hashlib.sha256()
    for rel, text in pieces:
        h.update(f"{rel}\0{text}\0".encode())
    return h.hexdigest()


# --------------------------------------------------------------- receipts


def load_receipts(path: str = RECEIPTS) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def record(path: str, sf: str, passed: dict[str, dict], failed) -> None:
    """Merge one sweep into the receipt file: every passed key gets its
    entry, every failed key loses its entry, keys not run keep theirs.
    Written to a temp file, then renamed over the old one."""
    receipts = load_receipts(path)
    section = receipts.setdefault(sf, {})
    for key in failed:
        section.pop(key, None)
    section.update(passed)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(receipts, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)


def stale_keys(receipts: dict) -> dict[str, str]:
    """{key: why} for every registered key whose current closure_fp has
    no green GATE_SF receipt."""
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    green = receipts.get(GATE_SF, {})
    out: dict[str, str] = {}
    for key, fn in QUERIES.items():
        rec = green.get(key)
        if rec is None:
            out[key] = "no receipt"
        elif rec["closure_fp"] != closure_fp(fn):
            out[key] = "closure changed since its receipt"
    return out


if __name__ == "__main__":
    from kafka_parquet_writer_spark.registry import QUERIES

    stale = stale_keys(load_receipts())
    if stale:
        print(f"{len(stale)} stale of {len(QUERIES)}")
    for key, why in sorted(stale.items()):
        print(f"STALE {key}: {why}")
    if stale:
        if 2 * len(stale) > len(QUERIES):
            how = "run the full sweep: python tools/verify_oracle.py"
        else:
            how = "python tools/verify_oracle.py " + " ".join(sorted(stale))
        print(
            f"{len(stale)} keys without a green {GATE_SF} receipt on the "
            f"current code; re-prove them with: {how}",
            file=sys.stderr,
        )
        sys.exit(1)
    print(f"all keys have a green {GATE_SF} receipt on the current code")
