"""Change-aware rotation of the query registry.

The driver's correctness run records only the first 50 entries of
``__spark_entry__.queries()`` per round, but the registry is larger.
:func:`staleness_rotated` reorders it so the keys that need (re-)
verification come first. Sort key per query (:func:`tier` names it):

1. **needs first- or re-verification** — the key has NEVER appeared in
   any ``CORRECTNESS_r*.json`` (``never``: zero driver evidence outranks
   everything, via last_seen = -1), has evidence but no recorded
   fingerprint (``no-fp``: it was verified after
   ``QUERY_FINGERPRINTS.json`` was last written, so nothing attests the
   green row covers the current code), or its current fingerprint
   (:func:`query_fingerprint`) differs from the recorded one
   (``changed``). Within this tier, keys force-flagged by
   ``tools/update_fingerprints.py --mark-changed`` (recorded as
   :data:`CHANGED_SENTINEL`) carry last_seen = -0.5: after the
   never-verified keys, ahead of every key whose fingerprint merely
   drifted;
2. **staleness** — the latest round the key appears in
   ``CORRECTNESS_r*.json``;
3. canonical (registry) order as the tie-break.

A query's fingerprint hashes, for each package module in its closure
(:func:`closure_modules`), the module's residue (top-level statements
that are not definitions: imports, constants, the docstring) plus the
source of every top-level definition in the query's used-name fixpoint
(:func:`_used_names`); then the sources of its entry-local helpers and
its rendered oracle SQL. Appending or editing a definition the query
never reaches leaves its fingerprint unchanged; a module that cannot be
found or parsed hashes as ``unparseable:<module>``.

No query closure imports this module, so editing it re-flags no key.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib.util
import inspect
import json
import os
import re
import types
from collections.abc import Callable
from typing import NamedTuple

PKG_NAME = "flink_streaming_2_10_spark"

#: Force-flag value ``tools/update_fingerprints.py --mark-changed``
#: records for a key (guaranteed to differ from every sha256 hexdigest).
CHANGED_SENTINEL = "<changed-since-last-driver-verification>"

#: Tiers whose keys must sort into the driver window.
NEEDS_VERIFICATION = ("never", "no-fp", "changed")

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def staleness_rotated(
    base: dict, evidence_dir: str, render_oracles: Callable[[], dict]
) -> dict:
    """``base`` reordered by (needs-verification, staleness, canonical
    order). Any read failure degrades to the canonical order; a missing
    fingerprint file degrades to pure staleness."""
    try:
        last_seen = dict(evidence_last_seen(evidence_dir))
        stored = dict(stored_fingerprints(evidence_dir))
    except Exception:
        return base
    fingerprint = fingerprinter(base, render_oracles)
    canon = {k: i for i, k in enumerate(base)}

    def sort_key(k: str):
        t = tier(k, last_seen, stored, fingerprint)
        if t not in NEEDS_VERIFICATION:
            return (1, last_seen[k], canon[k])
        if t == "changed" and stored[k] == CHANGED_SENTINEL:
            return (0, -0.5, canon[k])
        return (0, last_seen.get(k, -1), canon[k])

    return {k: base[k] for k in sorted(base, key=sort_key)}


def tier(
    key: str,
    last_seen: dict[str, int],
    stored: dict[str, str],
    fingerprint: Callable[[str], str | None],
) -> str:
    """``never``, ``no-fp`` or ``changed`` (see the module docstring),
    else ``stale rNN`` with the round of the key's last green row."""
    if key not in last_seen:
        return "never"
    if stored:
        rec = stored.get(key)
        if rec is None:
            return "no-fp"
        if rec == CHANGED_SENTINEL:
            return "changed"
        cur = fingerprint(key)
        if cur is not None and cur != rec:
            return "changed"
    return f"stale r{last_seen[key]:02d}"


@functools.lru_cache(maxsize=8)
def evidence_last_seen(here: str) -> tuple[tuple[str, int], ...]:
    """(key, latest round recorded) pairs from CORRECTNESS_r*.json."""
    last_seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                recorded = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(recorded, dict):
            continue
        for key in recorded:
            last_seen[key] = max(last_seen.get(key, -1), rnd)
    return tuple(last_seen.items())


@functools.lru_cache(maxsize=8)
def stored_fingerprints(here: str) -> tuple[tuple[str, str], ...]:
    """(key, fingerprint-at-last-driver-verification) pairs from
    ``QUERY_FINGERPRINTS.json`` (written by tools/update_fingerprints.py);
    empty if the file is missing or unreadable."""
    try:
        with open(os.path.join(here, "QUERY_FINGERPRINTS.json")) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return ()
    if not isinstance(data, dict):
        return ()
    return tuple(
        (k, v["fp"] if isinstance(v, dict) else v) for k, v in data.items()
    )


def fingerprinter(
    base: dict, render_oracles: Callable[[], dict]
) -> Callable[[str], str | None]:
    """key → :func:`query_fingerprint` of ``base[key]`` with its rendered
    oracle; None for a key not in ``base``."""

    def fingerprint(key: str) -> str | None:
        fn = base.get(key)
        if fn is None:
            return None
        oracle = _rendered(render_oracles).get(key, "<none>")
        return query_fingerprint(fn, oracle)

    return fingerprint


@functools.lru_cache(maxsize=4)
def _rendered(render_oracles: Callable[[], dict]) -> dict:
    """``oracle_sql()`` rendered once per process (pure string building)."""
    return render_oracles()


@functools.lru_cache(maxsize=None)
def query_fingerprint(fn, oracle: str) -> str | None:
    """Source fingerprint of query implementation ``fn`` (see the module
    docstring). The rendered ``oracle`` SQL is part of what the driver
    verified — an oracle edit invalidates the key's green row exactly as
    a Spark-side edit does. None if ``fn`` or an entry-local helper has
    no source."""
    _, local_fns = _entry_walk(fn)
    closure = closure_modules(fn)
    used = _used_names(fn, local_fns, closure)
    h = hashlib.sha256()
    for m in closure:
        h.update(m.encode())
        h.update(_module_part(m, used).encode())
    try:
        for lf in sorted({fn, *local_fns}, key=lambda f: f.__qualname__):
            h.update(inspect.getsource(lf).encode())
    except (AttributeError, OSError, TypeError):
        return None
    h.update(b"<oracle>")
    h.update(oracle.encode())
    return h.hexdigest()


def _module_part(mod_name: str, used: set[str]) -> str:
    """Closure module ``mod_name``'s share of a fingerprint: its
    :func:`module_digest`, or ``unparseable:<module>`` when the module
    cannot be found or parsed (the failure stays in the hash)."""
    source = _module_source(mod_name)
    digest = None if source is None else module_digest(source, used)
    return digest or f"unparseable:{mod_name}"


def module_digest(source: str, used: set[str]) -> str | None:
    """sha256 over a module's residue plus the source of each top-level
    definition named in ``used``; None if ``source`` does not parse."""
    parsed = _parse(source)
    if parsed is None:
        return None
    h = hashlib.sha256()
    for seg in parsed.residue:
        h.update(b"<residue>")
        h.update(seg.encode())
    for name in sorted(used & parsed.defs.keys()):
        h.update(f"<def {name}>".encode())
        h.update(parsed.defs[name].encode())
    return h.hexdigest()


class _Parsed(NamedTuple):
    tree: ast.Module
    residue: list[str]
    defs: dict[str, str]
    refs: dict[str, set[str]]  # definition name -> names it references


@functools.lru_cache(maxsize=None)
def _parse(source: str) -> _Parsed | None:
    """A module source parsed once; None if it does not parse."""
    try:
        tree = ast.parse(source)
    except (SyntaxError, ValueError):
        return None
    refs: dict[str, set[str]] = {}
    for node in tree.body:
        if isinstance(node, _DEFS):
            refs.setdefault(node.name, set()).update(_names_in(node))
    return _Parsed(tree, _residue(tree, source), _def_map(tree, source), refs)


@functools.lru_cache(maxsize=None)
def _module_source(mod_name: str) -> str | None:
    try:
        spec = importlib.util.find_spec(mod_name)
        with open(spec.origin) as fh:
            return fh.read()
    except Exception:
        return None


def _parse_module(mod_name: str) -> _Parsed | None:
    source = _module_source(mod_name)
    return None if source is None else _parse(source)


def _def_map(tree: ast.Module, source: str) -> dict[str, str]:
    """name → exact source segment (decorators included) for each
    top-level function/class definition."""
    lines = source.splitlines(keepends=True)
    out: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, _DEFS):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            out[node.name] = "".join(lines[start - 1 : node.end_lineno])
    return out


def _residue(tree: ast.Module, source: str) -> list[str]:
    """Source segments of top-level statements that are NOT defs — the
    module-level code every import of the module executes."""
    lines = source.splitlines(keepends=True)
    return [
        "".join(lines[n.lineno - 1 : n.end_lineno])
        for n in tree.body
        if not isinstance(n, _DEFS)
    ]


def _names_in(node: ast.AST) -> set[str]:
    """Every Name id and Attribute attr under ``node`` — the
    conservative reference universe of a definition's body."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _used_names(fn, local_fns: list, modules: tuple[str, ...]) -> set[str]:
    """Name-set fixpoint: start from the names the query's entry-side
    code objects reference, then absorb the names of every closure-module
    top-level definition whose name is already in the set, until stable.
    Name collisions across modules over-approximate, never under."""
    used: set[str] = set()
    stack = [f.__code__ for f in [fn, *local_fns] if hasattr(f, "__code__")]
    while stack:
        c = stack.pop()
        used.update(c.co_names)
        for const in c.co_consts:
            if hasattr(const, "co_names"):
                stack.append(const)

    refs_by_name: dict[str, list[set[str]]] = {}
    for mod_name in modules:
        parsed = _parse_module(mod_name)
        if parsed is None:
            continue
        for name, refs in parsed.refs.items():
            refs_by_name.setdefault(name, []).append(refs)

    absorbed: set[str] = set()
    while True:
        frontier = (used & refs_by_name.keys()) - absorbed
        if not frontier:
            return used
        for name in frontier:
            absorbed.add(name)
            for refs in refs_by_name[name]:
                used |= refs


def _impl_closure(fn, seen, mods, local_srcs) -> None:
    """Collect the package modules and entry-local helper functions a
    query implementation transitively references, by walking code-object
    ``co_names`` (covers both module-level imports resolved through
    ``__globals__`` and in-function ``import`` statements, whose dotted
    module paths the compiler interns into ``co_names``)."""
    if fn in seen:
        return
    seen.add(fn)
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        for const in c.co_consts:
            if hasattr(const, "co_names"):
                stack.append(const)
    for name in names:
        if name.startswith(PKG_NAME):
            mods.add(name)
            continue
        obj = fn.__globals__.get(name)
        if obj is None:
            continue
        if isinstance(obj, types.ModuleType):
            if obj.__name__.startswith(PKG_NAME):
                mods.add(obj.__name__)
        elif callable(obj):
            m = getattr(obj, "__module__", None)
            if isinstance(m, str) and m.startswith(PKG_NAME):
                mods.add(m)
            elif m == fn.__module__ and getattr(obj, "__code__", None) is not None:
                local_srcs.append(obj)
                _impl_closure(obj, seen, mods, local_srcs)


@functools.lru_cache(maxsize=None)
def _entry_walk(fn) -> tuple[frozenset[str], list]:
    """(package modules, entry-local helpers) ``fn`` references directly."""
    seen: set = set()
    mods: set[str] = set()
    local_fns: list = []
    _impl_closure(fn, seen, mods, local_fns)
    return frozenset(mods), local_fns


@functools.lru_cache(maxsize=None)
def _module_pkg_imports(mod_name: str) -> tuple[str, ...]:
    """Package modules that ``mod_name``'s SOURCE imports — top-level
    AND function-body statements alike (``ast.walk``), resolving
    ``from pkg.mod import name`` submodule forms. Source-level on
    purpose: a runtime ``vars(module)`` walk misses function-body
    imports (``shard.py`` reaches pipeline.dedup/components only inside
    defs) and depends on what else the process has imported. The repo
    uses absolute imports only. A module that cannot be found or parsed
    imports nothing here; its fingerprint part is the
    ``unparseable:<module>`` marker instead."""
    parsed = _parse_module(mod_name)
    if parsed is None:
        return ()
    found: set[str] = set()
    for node in ast.walk(parsed.tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG_NAME):
                    found.add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            if (
                node.level == 0
                and node.module
                and node.module.startswith(PKG_NAME)
            ):
                found.add(node.module)
                # `from pkg.mod import name`: name may itself be a
                # submodule (package __init__ re-exports) — keep it
                # only if it resolves to one.
                for alias in node.names:
                    cand = f"{node.module}.{alias.name}"
                    try:
                        if importlib.util.find_spec(cand) is not None:
                            found.add(cand)
                    except (ImportError, ModuleNotFoundError, ValueError):
                        pass
    return tuple(sorted(found))


@functools.lru_cache(maxsize=None)
def closure_modules(fn) -> tuple[str, ...]:
    """Transitive package-module closure of query implementation ``fn``:
    the entry-side code-object walk seeds the set (:func:`_impl_closure`),
    then each module's SOURCE imports (:func:`_module_pkg_imports`)
    expand it to a fixpoint."""
    mods = set(_entry_walk(fn)[0])
    frontier = list(mods)
    while frontier:
        m = frontier.pop()
        for nm in _module_pkg_imports(m):
            if nm not in mods:
                mods.add(nm)
                frontier.append(nm)
    return tuple(sorted(mods))
