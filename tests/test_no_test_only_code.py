"""Guard: every package definition must be reachable from a non-test
entry point.

A definition that only ``tests/`` imports is code the pipeline never
runs; it costs review and upkeep and drifts from the code that does run.
This test reads the source with ``ast`` alone (no Spark session) and
walks name references outward from the entry points:

- the registered faces: module-level code of ``plans/`` (the
  ``QUERIES``/``ORACLE`` tables and what they name);
- the jobs: every definition in ``jobs/``;
- the scripts: ``orchestration/``, ``tools/``, ``perfbench/`` (without
  its own ``test_gen.py``), ``bench.py`` and ``__spark_entry__.py``.

An import binds a name but is not a use: a module-level import of a
function reaches it only if some reached code then names it. Each
package definition no entry point reaches is reported as
``<package>/<module path>::<name>``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "airflow_project_flight_price_analysis_spark"

#: Kept although no entry point reaches them: a module path, or
#: ``path::name``, mapped to the reason.
EXEMPT = {
    f"{PKG}/sources/jdbc.py":
        "the external-database boundary (SURVEY S3); only a JDBC server "
        "can drive it",
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    """One source file: its top-level bindings, the names its imports
    bind (at any depth) and its import-time code."""

    def __init__(self, path: Path):
        self.path = path
        self.rel = path.relative_to(REPO).as_posix()
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text(encoding="utf-8"))
        self.defs: dict[str, list[ast.AST]] = {}
        self.top: list[ast.AST] = []
        for node in self.tree.body:
            names = _bound_names(node)
            for n in names:
                self.defs.setdefault(n, []).append(node)
            if not isinstance(node, _DEFS + _IMPORTS):
                self.top.append(node)
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    self.imports[bound] = (a.name if a.asname else bound, None)
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node.module, node.level)
                for a in node.names:
                    self.imports[a.asname or a.name] = (base, a.name)

    def _absolute(self, module: str | None, level: int) -> str:
        if not level:
            return module or ""
        parts = self.name.split(".")
        if self.path.name != "__init__.py":
            parts = parts[:-1]
        parts = parts[:len(parts) - (level - 1)]
        return ".".join(parts + ([module] if module else []))


def _bound_names(node: ast.AST) -> list[str]:
    if isinstance(node, _DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _load() -> dict[str, _Module]:
    files = list((REPO / PKG).rglob("*.py"))
    files += [p for d in ("orchestration", "tools", "perfbench")
              for p in (REPO / d).glob("*.py") if p.name != "test_gen.py"]
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return {m.name: m for m in map(_Module, files)}


def _refs(mods: dict[str, _Module], mod: _Module, nodes: list[ast.AST]):
    """Yield the (module, name) definitions the given nodes refer to."""
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                yield from _lookup(mods, mod, sub.id)
            elif isinstance(sub, ast.Attribute):
                target = _attr_module(mods, mod, sub.value)
                if target is not None:
                    yield from _lookup(mods, mods[target], sub.attr)


def _attr_module(mods, mod, value) -> str | None:
    """The module a ``value.attr`` reference looks ``attr`` up in, when
    ``value`` names an imported module."""
    if not isinstance(value, ast.Name) or value.id not in mod.imports:
        return None
    base, attr = mod.imports[value.id]
    full = base if attr is None else f"{base}.{attr}"
    return full if full in mods else None


def _lookup(mods, mod, name, seen=None):
    """Resolve ``name`` in ``mod`` to its definition, following imports
    and re-exports."""
    seen = seen or set()
    if (mod.name, name) in seen:
        return
    seen.add((mod.name, name))
    if name in mod.defs:
        yield (mod.name, name)
    elif name in mod.imports:
        base, attr = mod.imports[name]
        if attr is not None and base in mods:
            yield from _lookup(mods, mods[base], attr, seen)


def _is_entry(m: _Module) -> bool:
    return not m.name.startswith(PKG) or m.name.startswith(f"{PKG}.jobs")


def unreached_definitions() -> list[str]:
    """Package functions and classes that no entry point reaches, as
    ``<path>::<name>``, minus :data:`EXEMPT`."""
    mods = _load()
    by_path = {m.rel: m for m in mods.values()}
    roots: list[tuple[_Module, list[ast.AST]]] = []
    for m in mods.values():
        if _is_entry(m):
            roots.append((m, m.tree.body))
        elif m.name.startswith(f"{PKG}.plans"):
            # the face registry: every non-definition statement
            roots.append((m, [n for n in m.tree.body
                              if not isinstance(n, _DEFS + _IMPORTS)]))
    for key in EXEMPT:
        path, _, name = key.partition("::")
        m = by_path[path]
        roots.append((m, m.defs[name] if name else m.tree.body))

    reached: set[tuple[str, str]] = set()
    loaded: set[str] = set()
    stack = [ref for m, nodes in roots for ref in _refs(mods, m, nodes)]
    while stack:
        key = stack.pop()
        if key in reached:
            continue
        reached.add(key)
        m = mods[key[0]]
        stack.extend(_refs(mods, m, m.defs[key[1]]))
        if m.name not in loaded:
            # a used module's import-time code runs; an ``__all__``
            # entry is a string, not a use
            loaded.add(m.name)
            stack.extend(_refs(mods, m, m.top))

    return sorted(
        f"{m.rel}::{name}"
        for m in mods.values() if not _is_entry(m) and m.rel not in EXEMPT
        for name, nodes in m.defs.items()
        if isinstance(nodes[0], _DEFS) and (m.name, name) not in reached
        and f"{m.rel}::{name}" not in EXEMPT)


def test_no_package_definition_is_reached_only_by_tests():
    found = unreached_definitions()
    assert not found, (
        "package definitions no job, DAG, face, tool or benchmark reaches "
        "(delete them, or wire them into an entry point):\n  "
        + "\n  ".join(found))
