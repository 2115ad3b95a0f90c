"""Property-based checks (hypothesis) — SURVEY.md §5.3.

Driver-side properties run many examples; the Spark round-trip
property keeps a small example budget (each example is a full CC
job)."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from kissmetrics_to_database_spark.functions import events_transform as et
from kissmetrics_to_database_spark.operators import identity
from kissmetrics_to_database_spark.sources import ndjson

from .test_identity import _cc_python


@given(st.text(min_size=1, max_size=30))
def test_sanitize_key_idempotent_and_clean(s):
    once = et.sanitize_key(s)
    assert et.sanitize_key(once) == once  # idempotent
    assert not re.search(r"[- ]", once)  # no separators survive


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=20))
def test_natural_key_orders_numerically(nums):
    names = [f"{n}.json" for n in nums]
    ordered = sorted(names, key=ndjson.natural_key)
    assert [int(x.split(".")[0]) for x in ordered] == sorted(nums)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),  # keys, incl. a hot key case
            st.integers(min_value=-(10**7), max_value=10**7),  # ts (µs)
        ),
        min_size=2,
        max_size=30,
    ),
    st.sampled_from([1, 1000, 250_000, 3_000_000]),  # gap widths (µs)
)
@settings(max_examples=5, deadline=None)
def test_banded_interval_join_matches_quadratic(spark, rows, gap_us):
    """The banded time-proximity join is exactly the quadratic
    self-join (recall AND precision 1.0) — pins the pigeonhole
    exactness proof (interval.py) with randomized inputs, including
    negative timestamps (floor-banding must not break below epoch)
    and duplicate timestamps."""
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import interval

    data = [(k, i, ts) for i, (k, ts) in enumerate(rows)]
    df = spark.createDataFrame(data, ["key", "id", "us"]).select(
        "key", "id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    got = {
        (r["id_a"], r["id_b"], r["gap_us"])
        for r in interval.time_proximity_pairs(df, "key", "id", "ts", gap_us).collect()
    }
    expected = set()
    for (ka, ia, ta) in data:
        for (kb, ib, tb) in data:
            if ka == kb and ia < ib and abs(ta - tb) <= gap_us:
                expected.add((ia, ib, abs(ta - tb)))
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=5, deadline=None)
def test_cc_matches_union_find(spark, pairs):
    edges = [(f"v{a}", f"v{b}") for a, b in pairs if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["member"]: r["component_id"]
        for r in identity.connected_components(df).collect()
    }
    assert got == _cc_python(edges)


# ---------------------------------------------------------------------------
# Sketch invariants (driver-side: pure-python mirrors of the md5-slice
# family — cheap, so hypothesis gets its full example budget)
# ---------------------------------------------------------------------------


def _slices_py(value: str, k: int, nchars: int = 4) -> list[int]:
    import hashlib

    h = hashlib.md5(value.encode()).hexdigest()
    return [int(h[nchars * j : nchars * (j + 1)], 16) for j in range(k)]


@given(
    st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=60),
    st.sampled_from([64, 256, 1024]),
)
def test_cms_never_undercounts_python_model(vals, width):
    # the pure-python model of operators/sketches.cms_* (exact same
    # hash family): estimate >= truth for EVERY value, any width
    from collections import Counter

    depth = 4
    counters = [[0] * width for _ in range(depth)]
    for v in vals:
        for d, s in enumerate(_slices_py(v, depth)):
            counters[d][s % width] += 1
    for v, true_cnt in Counter(vals).items():
        est = min(counters[d][s % width] for d, s in enumerate(_slices_py(v, depth)))
        assert est >= true_cnt


@given(
    st.sets(st.text(alphabet="abcdef", min_size=1, max_size=8), min_size=1, max_size=50),
    st.sets(st.text(alphabet="uvwxyz", min_size=1, max_size=8), max_size=50),
    st.sampled_from([1 << 10, 1 << 12, 1 << 16]),
)
def test_bloom_no_false_negatives_python_model(build, probes, bits):
    k = 4
    bitset = {s % bits for v in build for s in _slices_py(v, k)}
    for v in build:  # every built value must test positive
        assert all(s % bits in bitset for s in _slices_py(v, k))
    # (disjoint probes may false-positive — that's the contract)


@given(st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=500))
def test_hll_python_model_merge_and_bounds(vals):
    # register merge property: HLL(A ∪ B) == merge(HLL(A), HLL(B));
    # and the estimate is within a loose envelope for small sets
    from tests.test_sketches import _hll_python

    import hashlib

    def regs(values, b=8):
        out: dict[int, int] = {}
        for v in values:
            h = hashlib.md5(str(v).encode()).hexdigest()
            reg, rest = int(h[:2], 16), int(h[2:8], 16)
            rho = 25 if rest == 0 else 25 - rest.bit_length()
            out[reg] = max(out.get(reg, 0), rho)
        return out

    vs = sorted(vals)
    half = len(vs) // 2
    a, b = vs[:half], vs[half:]
    ra, rb = regs(a), regs(b)
    merged = dict(ra)
    for k_, v_ in rb.items():
        merged[k_] = max(merged.get(k_, 0), v_)
    assert merged == regs(vs)
    est = _hll_python(vs)
    assert est > 0
    if len(vs) <= 200:
        assert abs(est - len(vs)) / len(vs) < 0.5  # loose 3-sigma-ish bound


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=3),
        min_size=8,
        max_size=14,
    ),
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=3),
        min_size=0,
        max_size=5,
    ),
)
@settings(max_examples=8, deadline=None)
def test_winnowing_guarantee_shared_run(spark, body_toks, prefix_toks):
    """THE winnowing guarantee (Schleimer et al. Thm): documents
    sharing a token run of length >= w+k-1 (here 6) select at least
    one identical fingerprint from it — regardless of what surrounds
    the run."""
    from kissmetrics_to_database_spark.operators import dedup as dd

    body = " ".join(body_toks)  # >= 8 tokens >= w+k-1 = 6
    other = " ".join(prefix_toks) + (" " if prefix_toks else "") + body
    df = spark.createDataFrame([(1, body), (2, other)], ["doc_id", "text"])
    fps = {1: set(), 2: set()}
    for r in dd.winnow_fingerprints(df, k=3, w=4).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], "shared run must produce a shared fingerprint"


@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=2),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=8, deadline=None)
def test_cdc_rewrite_invariants(spark, toks, ndocs):
    """CDC rewrite invariants on arbitrary corpora: (a) every
    distinct chunk survives exactly once corpus-wide, (b) per doc
    n_kept <= n_chunks, (c) bytes_saved == normalized-original minus
    deduped length, (d) total kept == distinct chunk count."""
    from kissmetrics_to_database_spark.operators import dedup as dd

    docs = [(i, " ".join(toks[i % len(toks):] + toks[: i % len(toks)]))
            for i in range(ndocs)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    chunks = dd.cdc_chunks(df, mask_bits=1).collect()
    distinct_hashes = {r["chunk_hash"] for r in chunks}
    out = dd.cdc_dedup_rewrite(df, mask_bits=1).collect()
    assert sum(r["n_kept"] for r in out) == len(distinct_hashes)
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_chunks"]
        doc_norm = " ".join(dict(docs)[r["doc_id"]].split())
        assert r["bytes_saved"] == len(doc_norm) - len(r["deduped_text"])


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=8, deadline=None)
def test_exact_substring_invariants(spark, docs_toks):
    # spans: length >= k, non-overlapping, inside doc bounds;
    # rewrite: accounting exact (kept + removed == total,
    # removed == Σ span lengths per doc)
    from kissmetrics_to_database_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 3
    spans = dedup.exact_substring_spans(df, k=k).collect()
    n_toks = {i: len([t for t in toks if t]) for i, toks in enumerate(docs_toks)}
    per_doc: dict[int, list] = {}
    for r in spans:
        assert r["span_len"] >= k
        assert r["span_end"] - r["span_start"] + 1 == r["span_len"]
        assert 0 <= r["span_start"] <= r["span_end"] < n_toks[r["doc_id"]]
        per_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for d, ss in per_doc.items():
        ss.sort()
        for (s1, e1), (s2, _e2) in zip(ss, ss[1:]):
            assert e1 < s2 - 1 or e1 < s2  # maximal runs never touch

    rewritten = dedup.exact_substring_rewrite(df, k=k).collect()
    span_sum = {
        d: sum(e - s + 1 for s, e in ss) for d, ss in per_doc.items()
    }
    for r in rewritten:
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]
        assert r["n_removed"] == span_sum.get(r["doc_id"], 0)
        assert len([t for t in r["text_rewritten"].split() if t]) == r["n_kept"]
