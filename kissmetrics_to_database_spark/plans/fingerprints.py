"""Per-query source fingerprints → automatic reverify rotation.

Computes a stable fingerprint for every catalog query from (a) the
query function's own source, (b) its oracle SQL, and (c) the source of
every package module in its dependency cone (below).  The
committed snapshot (`tools/query_fingerprints.json`) is the previous
round's state; at import time `catalog._reorder_registration`
front-loads queries whose live fingerprint differs, so a code change
anywhere in a query's dependency cone re-enters it into the driver's
50-query correctness window without hand-listing (VERDICT r3 item 8).

Edges come from the code's syntax tree, never from its text: an
``import`` of a package module, or an attribute read (``dedup.f``) on
a name bound to one. Docstrings, comments and other strings name
nothing — a regex pass over the text drew edges from prose ("the
scd.py pattern" put ``scd`` in ``dedup``'s cone) and from column
names, and each false edge re-flags every query in the caller's cone
when the callee changes. A query's scan also follows the module-level
helpers it calls in its own catalog module, so a query that reaches
an operator only through such a helper still gets the edge.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import sys
import textwrap
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent
SNAPSHOT_PATH = str(_PKG.parent / "tools" / "query_fingerprints.json")

# Modules a query function can pull behavior from. Name → file path.
_DEP_MODULES: dict[str, Path] = {
    **{
        p.stem: p
        for p in (_PKG / "operators").glob("*.py")
        if p.stem != "__init__"
    },
    **{
        p.stem: p
        for p in (_PKG / "sources").glob("*.py")
        if p.stem != "__init__"
    },
    **{
        p.stem: p
        for p in (_PKG / "functions").glob("*.py")
        if p.stem != "__init__"
    },
    "session": _PKG / "session.py",
}

def _module_source_cache() -> dict[str, str]:
    return {name: p.read_text() for name, p in _DEP_MODULES.items()}


def _referenced_modules(
    src: str | ast.AST, module_names, bound: dict[str, str] | None = None
) -> list[str]:
    """Modules the code in ``src`` (text or an already-parsed tree)
    USES: an import statement naming the module, or an attribute read
    on a name bound to it. ``bound`` maps names to modules (the
    imports of the module the code sits in); each module's own name is
    bound to it too. Text that does not parse has no edges."""
    if isinstance(src, str):
        try:
            src = ast.parse(textwrap.dedent(src))
        except SyntaxError:
            return []
    names = {m: m for m in module_names}
    names.update(bound or {})
    deps = set()
    for node in ast.walk(src):
        if isinstance(node, ast.Import):      # import a.b.dedup [as d]
            for a in node.names:
                mod = a.name.rpartition(".")[2]
                if mod in module_names:
                    deps.add(mod)
                    names[a.asname or mod] = mod
        elif isinstance(node, ast.ImportFrom):
            mod = (node.module or "").rpartition(".")[2]
            if mod in module_names:           # from a.b.dedup import f
                deps.add(mod)
            for a in node.names:              # from a.b import dedup [as d]
                if a.name in module_names:
                    deps.add(a.name)
                    names[a.asname or a.name] = a.name
    for node in ast.walk(src):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in names
        ):
            deps.add(names[node.value.id])
    return sorted(deps)


def _catalog_scope(module_name: str, module_names) -> tuple[dict, dict]:
    """(top-level name -> statement, import name -> package module) of
    a catalog module, parsed once."""
    tree = ast.parse(inspect.getsource(sys.modules[module_name]))
    top: dict[str, ast.AST] = {}
    bound: dict[str, str] = {}
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
            top[st.name] = st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        top[n.id] = st
        elif isinstance(st, ast.ImportFrom):
            for a in st.names:
                if a.name in module_names:
                    bound[a.asname or a.name] = a.name
    return top, bound


def _query_modules(fn, scopes: dict, module_names) -> list[str]:
    """Direct module uses of a query function and of the module-level
    helpers of its own catalog module that it calls, transitively."""
    if fn.__module__ not in scopes:
        scopes[fn.__module__] = _catalog_scope(fn.__module__, module_names)
    top, bound = scopes[fn.__module__]
    root = top.get(fn.__name__)
    if root is None:  # pragma: no cover - a query not defined at top level
        return _referenced_modules(inspect.getsource(fn), module_names, bound)
    deps: set[str] = set()
    seen = {id(root)}
    frontier = [root]
    while frontier:
        node = frontier.pop()
        deps.update(_referenced_modules(node, module_names, bound))
        for n in ast.walk(node):
            helper = top.get(n.id) if isinstance(n, ast.Name) else None
            if helper is not None and id(helper) not in seen:
                seen.add(id(helper))
                frontier.append(helper)
    return sorted(deps)


def _transitive_closure(
    direct: list[str], srcs: dict[str, str],
    module_deps: dict[str, list[str]],
) -> list[str]:
    """Expand a query's direct module references to their full
    dependency cone: each referenced module's own source is scanned
    against the package module set, unioned until fixpoint (ADVICE
    r4 — one-level scanning let an edit to a module reached only
    through another leave the dependent queries' fingerprints
    unchanged).
    ``module_deps`` caches the per-module scan across queries."""
    seen: set[str] = set()
    frontier = list(direct)
    while frontier:
        mod = frontier.pop()
        if mod in seen:
            continue
        seen.add(mod)
        if mod not in module_deps:
            module_deps[mod] = _referenced_modules(srcs[mod], srcs)
        frontier.extend(d for d in module_deps[mod] if d not in seen)
    return sorted(seen)


def compute_fingerprints() -> dict[str, str]:
    """name → md5 fingerprint for every registered catalog query."""
    from kissmetrics_to_database_spark.plans import catalog

    srcs = _module_source_cache()
    module_deps: dict[str, list[str]] = {}
    scopes: dict = {}
    out: dict[str, str] = {}
    for name, fn in catalog.QUERIES.items():
        try:
            fn_src = inspect.getsource(fn)
        except (OSError, TypeError):  # pragma: no cover - builtins only
            fn_src = repr(fn)
        deps = _transitive_closure(
            _query_modules(fn, scopes, srcs), srcs, module_deps
        )
        h = hashlib.md5()
        h.update(fn_src.encode())
        h.update(catalog.ORACLES.get(name, "<no-oracle>").encode())
        for d in deps:
            h.update(d.encode())
            h.update(srcs[d].encode())
        out[name] = h.hexdigest()
    return out


def _snapshot() -> dict[str, str]:
    try:
        with open(SNAPSHOT_PATH) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def changed_queries() -> tuple[set[str], set[str]]:
    """(brand_new, modified): brand_new have NO snapshot entry at all
    (added this round — the driver has never seen them and they must
    claim window slots first); modified have an entry whose hash
    differs (their prior green no longer certifies current code).
    Empty snapshot → both empty, so a fresh checkout degrades to the
    hand-curated lists rather than reverifying everything."""
    committed = _snapshot()
    if not committed:
        return set(), set()
    live = compute_fingerprints()
    brand_new = {n for n in live if n not in committed}
    modified = {
        n for n, fp in live.items() if n in committed and committed[n] != fp
    }
    return brand_new, modified
