"""Registry evidence: per-query source digests and the manifest that
pairs them with the green rows of the CORRECTNESS_rNN.json runs.

``MANIFEST_PATH`` (plans/source_digests.json) is generated by
scripts/update_source_digests.py. Per query it holds the current
``digest`` and ``evidence``: the newest green CORRECTNESS row as
``{"round", "digest"}``, with the digest the manifest held when that row
was ingested, or null when no run has passed the query. A query
is stale when the two digests differ; the import-time window order in
``plans/__init__.py`` reads only this file.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import sys
import types
from collections.abc import Iterable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from . import QuerySpec

MANIFEST_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "source_digests.json")


def load_manifest() -> dict[str, dict]:
    """The manifest by query name; empty when the file is missing, so
    every query then ranks as never checked until the script rewrites it."""
    if not os.path.exists(MANIFEST_PATH):
        return {}
    with open(MANIFEST_PATH) as f:
        return json.load(f)


def is_stale(row: dict) -> bool:
    """True when the query changed after its newest green CORRECTNESS row."""
    return row["evidence"] is not None and row["evidence"]["digest"] != row["digest"]


def source_digests(specs: Iterable[QuerySpec]) -> dict[str, str]:
    """Digest of each query's result-producing definition, by name.

    A digest hashes the oracle SQL and the AST of every definition the
    query reaches inside its own top-level package: its function (minus
    the ``@query`` decorator, whose oracle is hashed as SQL), the
    functions and classes it calls, and the module-level assignments
    (constants, tables, patterns) it reads. References are followed
    transitively through ``co_names`` (nested code objects included),
    attributes of package modules, in-function imports and the names a
    ``def`` or ``class`` statement evaluates (decorators, defaults,
    bases). Docstrings, comments and line numbers are not hashed: an
    edit to a shared helper or constant changes the digest of every
    query that reaches it, and a documentation edit changes none.
    The walk follows names, not registry lookups: a query that runs
    another query calls its function directly (``@query`` returns it
    unchanged), never ``REGISTRY[name].spark``.
    Paths into the checkout inside oracle SQL (fixture files) are
    replaced by a placeholder, so a digest does not depend on where the
    repository is checked out. ``ast.dump`` output can change between
    Python minor versions, which would change every digest at once."""
    walkers: dict[str, _Closure] = {}
    out = {}
    for spec in specs:
        pkg = spec.spark.__module__.split(".")[0]
        checkout = os.path.dirname(os.path.dirname(os.path.abspath(sys.modules[pkg].__file__)))
        parts = walkers.setdefault(pkg, _Closure(pkg)).of(spec.spark)
        payload = "\n".join(f"{k}\n{v}" for k, v in sorted(parts.items()))
        payload += "\n#oracle\n" + (spec.oracle or "").replace(checkout, "<checkout>")
        out[spec.name] = hashlib.sha256(payload.encode()).hexdigest()[:16]
    return out


class _Closure:
    """The definitions a query function reaches in package ``pkg``, as
    ``{key: AST dump}``. Memoized per instance: a batch of digests
    parses each module once."""

    def __init__(self, pkg: str) -> None:
        self.pkg = pkg
        self.index: dict[str, tuple[dict, dict]] = {}  # module -> (defs by qualname, top-level stmts by name)
        self.items: dict[tuple, tuple] = {}  # ("def", obj) | ("sym", module, name) -> (key, dump, refs)

    def of(self, fn) -> dict[str, str]:
        parts: dict[str, str] = {}
        seen: set[tuple] = set()
        stack = [("def", fn)]
        while stack:
            item = stack.pop()
            if item in seen:
                continue
            seen.add(item)
            if item not in self.items:
                self.items[item] = self._symbol(*item[1:]) if item[0] == "sym" else self._definition(item[1])
            key, dump, refs = self.items[item]
            if key is not None:
                parts[key] = dump
            stack.extend(refs)
        return parts

    def _inside(self, modname: str) -> bool:
        return modname == self.pkg or modname.startswith(self.pkg + ".")

    def _module(self, modname: str) -> tuple[dict, dict]:
        """Docstring-free def/class nodes of a module by qualname, and its
        top-level assignments and from-imports by bound name."""
        if modname in self.index:
            return self.index[modname]
        defs: dict[str, ast.AST] = {}
        top: dict[str, list[ast.stmt]] = {}

        def walk(parent: ast.AST, prefix: str, toplevel: bool) -> None:
            for node in ast.iter_child_nodes(parent):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    first = node.body[0]
                    if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
                        node.body = node.body[1:] or [ast.Pass()]
                    node.decorator_list = [
                        d for d in node.decorator_list if getattr(getattr(d, "func", None), "id", None) != "query"
                    ]
                    defs[prefix + node.name] = node
                    walk(node, prefix + node.name + ("." if isinstance(node, ast.ClassDef) else ".<locals>."), False)
                elif toplevel and isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.ImportFrom)):
                    if isinstance(node, ast.ImportFrom):
                        bound = [a.asname or a.name for a in node.names]
                    else:
                        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                        bound = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                    for name in bound:
                        top.setdefault(name, []).append(node)
                elif isinstance(node, ast.stmt):
                    walk(node, prefix, toplevel)

        walk(ast.parse(inspect.getsource(sys.modules[modname])), "", True)
        self.index[modname] = (defs, top)
        return defs, top

    def _resolve(self, names: set[str], scopes: list) -> list[tuple]:
        """Items for ``names`` looked up in each module of ``scopes``;
        package modules found on the way join the scopes, so
        ``module.attr`` chains resolve."""
        refs = []
        for mod in scopes:
            for name in sorted(names & vars(mod).keys()):
                value = vars(mod)[name]
                if not isinstance(value, types.ModuleType):
                    refs.append(("sym", mod.__name__, name))
                elif self._inside(value.__name__) and value not in scopes:
                    scopes.append(value)
        return refs

    def _imports(self, node, modname: str) -> tuple[list, list[tuple]]:
        """Package modules and items bound by the ``from`` imports inside
        ``node``."""
        scopes, refs = [], []
        for imp in ast.walk(node):
            if not isinstance(imp, ast.ImportFrom):
                continue
            src = importlib.util.resolve_name("." * imp.level + (imp.module or ""), sys.modules[modname].__package__)
            for a in imp.names if self._inside(src) else []:
                try:
                    scopes.append(importlib.import_module(f"{src}.{a.name}"))
                except ModuleNotFoundError:
                    refs.append(("sym", src, a.name))
        return scopes, refs

    def _symbol(self, modname: str, name: str) -> tuple:
        """A global ``name`` of package module ``modname``: a package
        def/class, or a value hashed as the statements that assign it
        (followed through ``from .x import name``)."""
        value = vars(sys.modules[modname])[name]
        obj = inspect.unwrap(value) if isinstance(value, types.FunctionType) else value
        if isinstance(obj, (types.FunctionType, type)):
            if not self._inside(obj.__module__):
                return None, None, []
            if obj.__qualname__ in self._module(obj.__module__)[0]:
                return None, None, [("def", obj)]
        stmts = self._module(modname)[1].get(name, [])
        assigns = [s for s in stmts if not isinstance(s, ast.ImportFrom)]
        refs = [r for s in stmts if isinstance(s, ast.ImportFrom) for r in self._imports(s, modname)[1] if r[2] == name]
        names = {n.id for s in assigns for n in ast.walk(s) if isinstance(n, ast.Name)}
        names |= {n.attr for s in assigns for n in ast.walk(s) if isinstance(n, ast.Attribute)}
        refs += self._resolve(names - {name}, [sys.modules[modname]])
        key = f"{modname[len(self.pkg):]}.{name}" if assigns else None
        return key, "\n".join(ast.dump(s) for s in assigns), refs

    def _definition(self, obj) -> tuple:
        """A package function or class: its AST, and the globals its code
        and its def/class statement read."""
        module = sys.modules[obj.__module__]
        node = self._module(obj.__module__)[0][obj.__qualname__]
        members = list(vars(obj).values()) if isinstance(obj, type) else [obj]
        fns = [m.__func__ if isinstance(m, (staticmethod, classmethod)) else m for m in members]
        codes = [f.__code__ for f in fns if isinstance(f, types.FunctionType) and f.__code__.co_filename == module.__file__]
        names: set[str] = set()
        while codes:
            code = codes.pop()
            names.update(code.co_names)
            codes += [c for c in code.co_consts if isinstance(c, types.CodeType)]
        evaluated = list(node.decorator_list)  # names the def/class statement itself evaluates
        if isinstance(node, ast.ClassDef):
            evaluated += node.bases + node.keywords + [s for s in node.body if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        else:
            evaluated += node.args.defaults + [d for d in node.args.kw_defaults if d is not None]
        names |= {n.id for e in evaluated for n in ast.walk(e) if isinstance(n, ast.Name)}
        scopes, refs = self._imports(node, obj.__module__)
        refs += self._resolve(names, [module] + scopes)
        key = f"{obj.__module__[len(self.pkg):]}:{obj.__qualname__}"
        return key, ast.dump(node), refs
