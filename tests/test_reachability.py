"""Every top-level package function and class has a caller that runs.

The roots are the catalog build functions plus every package object
that ``perfbench/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py``
import (importing ``CATALOG`` roots every entry's build function),
plus what the import-time code of the modules they load names (the
catalog's ``@register`` decorators, oracle SQL built by helpers). From
each root, :func:`evidence._entry_closure` — the walker that
fingerprints catalog entries — gives the package functions and classes
it reaches; a module it can only pin as a whole file counts as reached
in full. Anything left is reached by tests alone: give it a caller that
runs, or delete it with its tests.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

from tv_event_streaming_spark import evidence

ROOT_SCRIPTS = (
    sorted(glob.glob(os.path.join(evidence.ROOT, "perfbench", "*.py")))
    + sorted(glob.glob(os.path.join(evidence.ROOT, "tools", "*.py")))
    + [
        os.path.join(evidence.ROOT, "bench.py"),
        os.path.join(evidence.ROOT, "__spark_entry__.py"),
    ]
)


def _script_roots(path: str, modfiles: dict[str, str]) -> tuple[list, set[str]]:
    """(package objects, whole package modules) one script imports.

    A module the script imports is rooted through the ``alias.attr``
    names the script reads off it; a module it never reads an
    attribute from counts whole."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    objs: list = []
    aliases: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            evidence.PKG
        ):
            base = importlib.import_module(node.module)
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if sub in modfiles:
                    aliases.setdefault(a.asname or a.name, set()).add(sub)
                else:
                    objs.append(getattr(base, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name in modfiles and a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
    attrs: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            attrs.setdefault(node.value.id, set()).add(node.attr)
    whole: set[str] = set()
    for alias, mods in aliases.items():
        for m in mods:
            mod = importlib.import_module(m)
            read = [a for a in attrs.get(alias, ()) if hasattr(mod, a)]
            if not read:
                whole.add(m)
            objs.extend(getattr(mod, a) for a in sorted(read))
    return objs, whole


def _module_level_roots(m: str) -> list:
    """Package functions and classes that module `m`'s import-time code
    names: its top-level statements, and the decorators, defaults and
    bases of its top-level definitions — not their bodies."""
    mod = importlib.import_module(m)
    with open(mod.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    nodes: list[ast.AST] = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            nodes += stmt.decorator_list + stmt.args.defaults
            nodes += [d for d in stmt.args.kw_defaults if d is not None]
        elif isinstance(stmt, ast.ClassDef):
            nodes += stmt.decorator_list + stmt.bases
        else:
            nodes.append(stmt)
    out = []
    for node in nodes:
        for n in ast.walk(node):
            v = None
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                base = vars(mod).get(n.value.id)
                if inspect.ismodule(base):
                    v = getattr(base, n.attr, None)
            elif isinstance(n, ast.Name):
                v = vars(mod).get(n.id)
            if (inspect.isfunction(v) or inspect.isclass(v)) and v.__module__.startswith(
                evidence.PKG
            ):
                out.append(v)
    return out


def unreached() -> list[str]:
    """Qualified names of the top-level package functions and classes
    that no root reaches."""
    from tv_event_streaming_spark.plans import CATALOG

    modfiles = evidence.package_module_files()
    roots: list = []
    whole: set[str] = set()
    for path in ROOT_SCRIPTS:
        objs, mods = _script_roots(path, modfiles)
        whole |= mods
        for o in objs:
            if o is CATALOG:
                roots.extend(e.build for e in CATALOG.values())
            elif inspect.isfunction(o) or inspect.isclass(o):
                roots.append(o)
    imported = {o.__module__ for o in roots} | whole
    for m in sorted(evidence._closure(imported, modfiles, {})):
        roots.extend(_module_level_roots(m))
    reached: set[str] = set()
    for fn in roots:
        sources, _consts, fallback = evidence._entry_closure(fn, modfiles)
        reached |= set(sources)
        whole |= fallback
    out = []
    for m in sorted(modfiles):
        if m in whole:
            continue
        mod = importlib.import_module(m)
        for name, v in vars(mod).items():
            if (
                (inspect.isfunction(v) or inspect.isclass(v))
                and v.__module__ == m
                and f"{m}.{v.__qualname__}" not in reached
            ):
                out.append(f"{m}.{name}")
    return out


def test_every_package_function_has_a_running_caller():
    missing = unreached()
    assert not missing, (
        "package functions/classes no catalog entry, perfbench, tools/, "
        "bench.py or __spark_entry__.py reaches: " + ", ".join(missing)
    )
