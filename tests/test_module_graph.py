"""Every package module is reachable by imports from the entry modules,
every import of a package module is used, and every table in
``session.TABLES`` is read by a catalog query.

Static checks (no Spark). The first parses each module, follows every
``import`` and ``from ... import`` (those nested inside functions too)
from the package's entry modules, and fails on any module that no
entry reaches. Such a module is dead code: nothing the product runs
can call it. The second fails on an import that binds a package
module to a name the importing scope never reads: such an import is
an edge the first check counts, so it could keep a dead module
"reachable". An import kept for its side effect carries
``# noqa: F401``. The third fails on a table name that no
``load_table(...)`` call under ``plans/`` passes as a string.
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


def _package(name: str, path: Path) -> str:
    return name if path.name == "__init__.py" else name.rpartition(".")[0]


def _from_module(node: ast.ImportFrom, package: str) -> str:
    anchor = package.rsplit(".", node.level - 1)[0] if node.level else ""
    return ".".join(p for p in (anchor, node.module) if p)


def _imported(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``name`` imports, parents included
    (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    package = _package(name, path)
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(node, package)
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


_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _own_nodes(scope: ast.AST):
    """The nodes of ``scope``, not descending into nested functions."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _FUNCTIONS):
            stack.extend(ast.iter_child_nodes(node))


def _unused_module_imports(name: str, path: Path, modules: dict[str, Path]):
    """``(line, bound name)`` for each import in ``name`` that binds a
    package module to a name its scope (the module, or the function
    the import sits in) never reads."""
    package = _package(name, path)
    source = path.read_text()
    lines = source.splitlines()
    tree = ast.parse(source)
    out = []
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _FUNCTIONS))]:
        read = {
            n.id for n in ast.walk(scope)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in _own_nodes(scope):
            if isinstance(node, ast.Import):
                bound = [(a.asname or a.name.partition(".")[0], a.name) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = _from_module(node, package)
                bound = [(a.asname or a.name, f"{mod}.{a.name}") for a in node.names]
            else:
                continue
            text = " ".join(lines[node.lineno - 1:node.end_lineno])
            if "F401" in text.partition("# noqa")[2]:
                continue
            out.extend(
                (node.lineno, local)
                for local, target in bound
                if target in modules and local not in read
            )
    return out


def test_every_package_module_import_is_used():
    modules = _modules()
    unused = {
        f"{name}:{line} {local}"
        for name, path in modules.items()
        for line, local in _unused_module_imports(name, path, modules)
    }
    assert sorted(unused) == []


def _load_table_names(path: Path) -> set[str]:
    """String arguments of the ``load_table(...)`` calls in ``path``."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call) and (
            getattr(node.func, "id", None) == "load_table"
            or getattr(node.func, "attr", None) == "load_table"
        ):
            out.update(
                a.value for a in node.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            )
    return out


def test_every_session_table_is_read_by_a_query():
    # a table in session.TABLES is loaded by every oracle run and
    # cached by every warm bench; one that no query reads is dead
    from kissmetrics_to_database_spark.session import TABLES

    read = set().union(*map(_load_table_names, (ROOT / "plans").glob("*.py")))
    assert sorted(set(TABLES) - read) == []
