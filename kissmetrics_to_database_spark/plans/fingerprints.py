"""Per-query source fingerprints → automatic reverify rotation.

Computes a stable fingerprint for every catalog query from (a) the
query function's own source, (b) its oracle SQL, and (c) the source of
every package module the function body references by name.  The
committed snapshot (`tools/query_fingerprints.json`) is the previous
round's state; at import time `catalog._reorder_registration`
front-loads queries whose live fingerprint differs, so a code change
anywhere in a query's dependency cone re-enters it into the driver's
50-query correctness window without hand-listing (VERDICT r3 item 8).

The module scan is textual by design but matches only module-USE
shapes — ``dedup.`` attribute access or ``import dedup`` /
``from ...dedup import`` — not bare tokens: the word ``text`` appears
in nearly every document query as a COLUMN name, and bare-token
matching flagged 55 queries as changed after a one-line text.py edit
(round 4), overflowing the driver's 50-query window so genuinely new
queries fell outside it.  False negatives require calling a module
without naming it, which the catalog style (module-qualified calls)
rules out.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import re
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


def _referenced_modules(fn_src: str, module_names) -> list[str]:
    """Modules the function source USES: ``mod.attr`` access or an
    import statement naming the module — never a bare token (column
    names like "text" can collide with module names)."""
    deps = []
    for name in module_names:
        pat = (
            rf"\b{re.escape(name)}\s*\."          # dedup.tokens(...)
            rf"|\bimport\s+{re.escape(name)}\b"    # import dedup
            rf"|\b{re.escape(name)}\s+import\b"    # from ...dedup import f
        )
        if re.search(pat, fn_src):
            deps.append(name)
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
    out: dict[str, str] = {}
    for name, fn in catalog.QUERIES.items():
        try:
            fn_src = inspect.getsource(fn)
        except (OSError, TypeError):  # pragma: no cover - builtins only
            fn_src = repr(fn)
        deps = _transitive_closure(
            _referenced_modules(fn_src, srcs), srcs, module_deps
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
