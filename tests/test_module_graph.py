"""Every package module is reachable by imports from the entry modules.

A static check (no Spark): it parses each module, follows every
``import`` and ``from ... import`` (those nested inside functions too)
from the package's entry modules, and fails on any module that no
entry reaches. Such a module is dead code: nothing the product runs
can call it.
"""

from __future__ import annotations

import ast
from pathlib import Path

import kissmetrics_to_database_spark as pkg

PKG = pkg.__name__
ROOT = Path(pkg.__file__).resolve().parent
ENTRIES = ("pipeline", "streaming.pipeline", "plans.catalog", "session")


def _modules() -> dict[str, Path]:
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join((PKG, *parts))] = path
    return out


def _imported(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``name`` imports, parents included
    (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            anchor = package.rsplit(".", node.level - 1)[0] if node.level else ""
            mod = ".".join(p for p in (anchor, node.module) if p)
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            found.update(
                ".".join(parts[:i])
                for i in range(1, len(parts) + 1)
                if ".".join(parts[:i]) in modules
            )
    return found


def test_every_module_is_reachable_from_an_entry_module():
    modules = _modules()
    entries = [f"{PKG}.{e}" for e in ENTRIES]
    assert set(entries) <= set(modules)
    seen: set[str] = set()
    frontier = list(entries)
    while frontier:
        name = frontier.pop()
        if name not in seen:
            seen.add(name)
            frontier.extend(_imported(name, modules[name], modules) - seen)
    assert sorted(set(modules) - seen) == []
