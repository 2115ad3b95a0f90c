"""Fingerprint dependency-cone tests (plans/fingerprints.py)."""

from __future__ import annotations

from kissmetrics_to_database_spark.plans import fingerprints as fp


def test_direct_reference_scan_is_not_bare_token():
    srcs = {"text": "x", "dedup": "y"}
    # column name 'text' in a string literal must NOT match
    assert fp._referenced_modules('F.col("text")', srcs) == []
    assert fp._referenced_modules("text.bm25_search(df)", srcs) == ["text"]
    assert fp._referenced_modules("import dedup", srcs) == ["dedup"]
    assert fp._referenced_modules(
        "from kissmetrics_to_database_spark.operators.dedup import f", srcs
    ) == ["dedup"]


def test_transitive_closure_reaches_indirect_modules():
    # ADVICE r4: codecs.decode_image dispatches to jpeg.decode_jpeg,
    # so a query referencing only codecs must hash jpeg.py too
    srcs = {
        "codecs": "import jpeg\n",
        "jpeg": "pure leaf\n",
        "avi": "from x import codecs\ncodecs.decode_image\n",
        "unrelated": "nothing\n",
    }
    cache: dict = {}
    got = fp._transitive_closure(["codecs"], srcs, cache)
    assert got == ["codecs", "jpeg"]
    got = fp._transitive_closure(["avi"], srcs, cache)
    assert got == ["avi", "codecs", "jpeg"]
    # cycles terminate
    srcs2 = {"a": "b.f()", "b": "a.g()"}
    assert fp._transitive_closure(["a"], srcs2, {}) == ["a", "b"]


def test_live_closure_reaches_modules_two_levels_down():
    # the real repo shape: linkage uses dedup and dedup imports
    # identity, so identity is in linkage's cone but not a direct use
    srcs = fp._module_source_cache()
    direct = fp._referenced_modules(srcs["linkage"], srcs)
    assert "dedup" in direct and "identity" not in direct
    cone = fp._transitive_closure(["linkage"], srcs, {})
    assert "dedup" in cone and "identity" in cone


def test_edges_come_from_code_not_prose():
    # docstrings and comments name modules ("the scd.py pattern" in
    # dedup, the lock and schema_evolution prose in sink) without
    # using them; a query that reaches linkage only through helpers of
    # its catalog module still has it in its cone
    from kissmetrics_to_database_spark.plans import catalog

    srcs = fp._module_source_cache()
    assert "scd" not in fp._referenced_modules(srcs["dedup"], srcs)
    assert "lock" not in fp._referenced_modules(srcs["sink"], srcs)
    fn = catalog.QUERIES["record_linkage_pairs"]
    direct = fp._query_modules(fn, {}, srcs)
    assert "linkage" in fp._transitive_closure(direct, srcs, {})
