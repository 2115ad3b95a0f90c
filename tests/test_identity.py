"""Identity resolution tests: connected components correctness,
edge-order invariance (the property the reference implies but never
verifies — SURVEY.md §5.3), and the Kissmetrics edge extraction."""

from __future__ import annotations

import random

import pytest

from kissmetrics_to_database_spark.operators import identity

# 0 disables the driver-side union-find fallback → exercises the
# distributed min-label-propagation loop; the default exercises the
# adaptive local path. Both must agree everywhere.
BOTH_PATHS = pytest.mark.parametrize("local_threshold", [0, 1_000_000])


def _cc_python(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find ground truth: member -> min member of component."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    members: dict[str, list[str]] = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    out = {}
    for group in members.values():
        m = min(group)
        for x in group:
            out[x] = m
    return out


def _run_cc(spark, edges, local_threshold=1_000_000):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["member"]: r["component_id"]
        for r in identity.connected_components(
            df, local_threshold=local_threshold
        ).collect()
    }


@BOTH_PATHS
def test_chain_cycle_and_separate_components(spark, local_threshold):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("p", "q"), ("q", "r")]
    got = _run_cc(spark, edges, local_threshold)
    assert got == _cc_python(edges)
    assert got["c"] == "a" and got["y"] == "x" and got["r"] == "p"


@BOTH_PATHS
def test_long_chain_converges(spark, local_threshold):
    # diameter >> 1 exercises multi-round propagation + lineage cuts
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    got = _run_cc(spark, edges, local_threshold)
    assert set(got.values()) == {"n000"}


def test_edge_order_invariance(spark):
    # components must not depend on input order (the reference's
    # incremental vs. global rebuild equivalence, KTD:359 vs 401)
    rng = random.Random(42)
    nodes = [f"v{i}" for i in range(30)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(35)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _cc_python(edges)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    for threshold in (0, 1_000_000):
        assert _run_cc(spark, edges, threshold) == expected
        assert _run_cc(spark, shuffled, threshold) == expected


def test_all_pairs_excludes_self_and_is_symmetric(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    comp = identity.connected_components(df)
    pairs = {
        (r["identity1"], r["identity2"])
        for r in identity.all_pairs(comp).collect()
    }
    assert pairs == {
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"), ("c", "b"),
    }


def test_incremental_equals_global_rebuild(spark):
    # SURVEY §5.3: folding edge batches incrementally must equal the
    # global rebuild — the equivalence the reference implies between
    # its per-event path (KTD:359-394) and global path (KTD:401-455)
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(24)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _cc_python(edges)

    # three batches folded incrementally
    third = len(edges) // 3
    batches = [edges[:third], edges[third : 2 * third], edges[2 * third :]]
    comp = identity.connected_components(
        spark.createDataFrame(batches[0], ["src", "dst"])
    )
    for batch in batches[1:]:
        comp = identity.update_components(
            comp, spark.createDataFrame(batch, ["src", "dst"])
        )
    got = {r["member"]: r["component_id"] for r in comp.collect()}
    assert got == expected


def test_incremental_merges_two_components(spark):
    # a bridging edge must merge previously-separate components and
    # re-canonicalize to the global minimum
    comp = identity.connected_components(
        spark.createDataFrame([("a", "b"), ("x", "y")], ["src", "dst"])
    )
    merged = identity.update_components(
        comp, spark.createDataFrame([("b", "y")], ["src", "dst"])
    )
    got = {r["member"]: r["component_id"] for r in merged.collect()}
    assert got == {"a": "a", "b": "a", "x": "a", "y": "a"}


def _spark_map(spark, map_dir) -> dict:
    return {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(str(map_dir)).collect()
    }


# a small local_threshold forces fold_into_map's Spark fallback
FOLD_PATHS = pytest.mark.parametrize(
    "local_threshold,path", [(1_000_000, "arrow"), (0, "distributed")]
)


@FOLD_PATHS
@pytest.mark.parametrize("seed", [3, 11])
def test_fold_into_map_equals_union_find_and_spark_fold(
    spark, tmp_path, seed, local_threshold, path
):
    # random batches, self-loops included, folded one at a time: the
    # map on disk equals the union-find closure of every edge so far
    # and the update_components fold, after every batch
    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(30)]
    map_dir = tmp_path / "identity_components"
    seen: list[tuple[str, str]] = []
    comp = None
    for _ in range(4):
        batch = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randint(1, 12))
        ]
        df = spark.createDataFrame(batch, "src string, dst string")
        fold = identity.fold_into_map(
            df, str(map_dir), len(batch), local_threshold=local_threshold
        )
        seen += batch
        comp = (
            identity.connected_components(df)
            if comp is None
            else identity.update_components(comp, df)
        )
        got = _spark_map(spark, map_dir)
        assert got == _cc_python([(a, b) for a, b in seen if a != b])
        assert got == {r["member"]: r["component_id"] for r in comp.collect()}
        assert fold == (len(got), len(batch), path)
    # nothing is left beside the map
    assert [p.name for p in tmp_path.iterdir()] == ["identity_components"]


@FOLD_PATHS
def test_fold_into_map_over_a_spark_written_map(
    spark, tmp_path, local_threshold, path
):
    # a map from before fold_into_map: several part files and
    # _SUCCESS; the batch's bridging edge b—y merges two old components
    start = [("a", "b"), ("x", "y"), ("p", "q"), ("q", "r")]
    map_dir = tmp_path / "identity_components"
    identity.connected_components(
        spark.createDataFrame(start, "src string, dst string")
    ).repartition(3).write.parquet(str(map_dir))
    assert (map_dir / "_SUCCESS").exists()
    assert len(list(map_dir.glob("part-*.parquet"))) > 1
    bridge = [("b", "y")]
    fold = identity.fold_into_map(
        spark.createDataFrame(bridge, "src string, dst string"),
        str(map_dir),
        len(bridge),
        local_threshold=local_threshold,
    )
    got = _spark_map(spark, map_dir)
    assert got == _cc_python(start + bridge)
    assert got["x"] == got["y"] == "a" and got["r"] == "p"
    assert fold == (7, 1, path)
    if path == "arrow":
        assert [p.name for p in map_dir.iterdir()] == ["part-00000.parquet"]
    assert [p.name for p in tmp_path.iterdir()] == ["identity_components"]


@pytest.mark.parametrize(
    "limits,paths",
    [
        # (local_threshold, byte budget, the caller's bound on edge
        # rows) for each batch. Batch 1 folds one edge of 2 chars into
        # an empty map; batch 2 folds one edge of 2 chars into a map of
        # 2 rows and 4 chars. Every row counts in both directions.
        ([(2, 4, 1), (6, 12, 1)], ["arrow", "arrow"]),
        ([(1, 4, 1), (5, 12, 1)], ["distributed", "distributed"]),
        ([(2, 3, 1), (6, 11, 1)], ["distributed", "distributed"]),
        # a bound above the room: the counted edge fits
        ([(2, 4, 5), (6, 12, 5)], ["arrow", "arrow"]),
        # a bound that undercounts: the collected edge is past the room
        ([(1, 4, 0), (5, 12, 0)], ["distributed", "distributed"]),
    ],
)
def test_fold_into_map_prices_in_connected_components_units(
    spark, tmp_path, monkeypatch, limits, paths
):
    # rows and id chars are priced as upper bounds of what
    # connected_components counts over the undirected edge set
    # update_components builds, so the fold stays on the driver only
    # within the same limits; one past either limit takes the fallback,
    # whatever bound on the edge rows the caller gives
    map_dir = tmp_path / "identity_components"
    seen: list[tuple[str, str]] = []
    for batch, (rows, chars, bound), path in zip(
        ([("a", "b")], [("b", "c")]), limits, paths
    ):
        monkeypatch.setattr(identity, "_LOCAL_BYTE_BUDGET", chars)
        fold = identity.fold_into_map(
            spark.createDataFrame(batch, "src string, dst string"),
            str(map_dir),
            bound,
            local_threshold=rows,
        )
        seen += batch
        assert _spark_map(spark, map_dir) == _cc_python(seen)
        assert (fold.edges, fold.path) == (1, path)


def test_resolve_events_fallback(spark):
    # FileImporter.php:95-118 — unknown identity falls back to raw id
    events = spark.createDataFrame([("a", 1), ("z", 2)], ["_p", "v"])
    mapping = spark.createDataFrame([("a", "a0")], ["member", "canonical"])
    out = {
        r["_p"]: r["canonical"]
        for r in identity.resolve_events(events, mapping).collect()
    }
    assert out == {"a": "a0", "z": "z"}


def test_alias_edges_kissmetrics(spark):
    # KTD:401-436: _p2 edges (skip '@' sources) + updated-email edges
    rows = [
        ("u1", "a1", "signup", None, None),
        ("x@y.z", "a2", "signup", None, None),  # excluded: '@' in _p
        ("u2", "", "click", None, None),  # excluded: empty _p2
        ("u3", None, "updated email", "new@e.com", "old@e.com"),
    ]
    df = spark.createDataFrame(
        rows, ["_p", "_p2", "_n_not_null", "new_email", "previous_email"]
    )
    edges = {
        (r["src"], r["dst"])
        for r in identity.alias_edges_kissmetrics(df).collect()
    }
    assert edges == {
        ("u1", "a1"),
        ("u3", "new@e.com"),
        ("u3", "old@e.com"),
    }


_EMAIL = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}


@pytest.mark.parametrize(
    "rows,expected",
    [
        (
            [
                {"_p": "u1", "_p2": "a1", "_n": "alias"},
                {"_p2": "a0", "_n": "alias"},  # NULL _p: no _p2 edge
                {"_p": "x@y.z", "_p2": "a2", "_n": "alias"},  # '@' in _p
                {"_p": "u3", "_p2": "", "_n": "click"},  # empty _p2
                {"_p": "u4", **_EMAIL, "previous_email": " "},  # a blank is an id
                {"_p": "u5", **_EMAIL, "previous_email": ""},  # empty: no edge
                {"_p": "u6", "_p2": "a6", **_EMAIL},  # MAX_EDGES_PER_ROW edges
                _EMAIL,  # NULL _p: no email edges
            ],
            [
                ("u1", "a1"),
                ("u4", "n@e.com"), ("u4", " "),
                ("u5", "n@e.com"),
                ("u6", "a6"), ("u6", "n@e.com"), ("u6", "o@e.com"),
            ],
        ),
        (
            [{"_p": "u1", **_EMAIL}, {"_p": "u2", "_n": "click"}],  # no _p2
            [("u1", "n@e.com"), ("u1", "o@e.com")],
        ),
        (
            [{"_p": "u1", "_p2": "a1", "_n": "updated email"}],  # no email columns
            [("u1", "a1")],
        ),
        ([{"_p": "u1", "_n": "click"}], []),
    ],
    ids=["every-source", "no-p2", "no-email-columns", "no-edge-source"],
)
def test_observed_edges_equal_alias_edges(spark, rows, expected):
    # the edges edge_list observes on a write of the transformed rows
    # are the rows alias_edges_kissmetrics yields for them
    from collections import Counter

    from kissmetrics_to_database_spark.functions import events_transform
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    keys = sorted({k for r in rows for k in r})
    schema = T.StructType([T.StructField(k, T.StringType()) for k in keys])
    transformed = events_transform.transform_events(
        spark.createDataFrame([tuple(r.get(k) for k in keys) for r in rows], schema),
        fixed_date="2024-06-01",
    )
    observed = Observation()
    edges = identity.edge_list(transformed.columns).alias("edges")
    transformed.observe(observed, edges).write.format("noop").mode("overwrite").save()
    table = identity.edges_table(observed.get["edges"])
    got = Counter(zip(table.column("src").to_pylist(), table.column("dst").to_pylist()))
    collected = identity.alias_edges_kissmetrics(transformed).toArrow()
    assert got == Counter(zip(*(collected.column(c).to_pylist() for c in ("src", "dst"))))
    assert got == Counter(expected)
    assert table.schema == collected.schema


def test_pagerank_star_graph_matches_python(spark):
    # star: hub h — leaves l1..l3 (undirected). Replicate the rounded
    # fixed-point schedule in pure Python. Spark's F.round is
    # HALF_UP (like DuckDB), NOT Python's banker's round — and the
    # hub's iteration-3 value lands exactly on a .5 boundary.
    from decimal import ROUND_HALF_UP, Decimal

    def round_up(x, nd=6):
        return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))

    edges = [("h", "l1"), ("h", "l2"), ("h", "l3")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["rank"] for r in identity.pagerank(df, iters=3).collect()}

    deg = {"h": 3, "l1": 1, "l2": 1, "l3": 1}
    und = edges + [(b, a) for a, b in edges]
    n = 4.0
    rank = {v: round_up(1.0 / n) for v in deg}
    for _ in range(3):
        sums = {v: 0.0 for v in deg}
        for a, b in und:
            sums[b] += rank[a] / deg[a]
        rank = {
            v: round_up((1.0 - 0.85) / n + 0.85 * sums[v]) for v in deg
        }
    assert out == rank
    # hub outranks leaves, mass ≈ 1
    assert out["h"] > out["l1"] == out["l2"] == out["l3"]
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_pagerank_disconnected_uniform_within_pairs(spark):
    # two disjoint edges: all four nodes symmetric → equal rank 1/4
    df = spark.createDataFrame([("a", "b"), ("c", "d")], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in identity.pagerank(df, iters=3).collect()}
    assert len(set(out.values())) == 1
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_triangle_counts_k4_and_pendant(spark):
    # K4 (every node in C(3,2)=3 triangles) plus a pendant edge
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    df = spark.createDataFrame(k4 + [("d", "e")], ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}  # pendant absent


def test_triangle_counts_star_has_none(spark):
    df = spark.createDataFrame([("h", f"l{i}") for i in range(10)], ["src", "dst"])
    assert identity.triangle_counts(df).count() == 0


def test_triangle_counts_matches_bruteforce(spark):
    import itertools

    edges = [
        (i, (i * 7 + 3) % 20) for i in range(40)
    ] + [(i, (i + 1) % 20) for i in range(20)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}

    es = set(edges)
    nodes = sorted({n for e in es for n in e})
    ref: dict[int, int] = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            for n in (x, y, z):
                ref[n] = ref.get(n, 0) + 1
    assert out == ref


def test_triangle_counts_duplicate_and_reversed_edges_collapse(spark):
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    noisy = tri + [(b, a) for a, b in tri] + tri
    df = spark.createDataFrame(noisy + [("a", "a")], ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_distributed_cc_2m_edges_converges_in_log_rounds(spark):
    """The distributed pointer-jumping path at a size that FORCES it
    (above local_threshold), with convergence-rate assertion: block
    chains of diameter 512 must close in O(log diameter) rounds, not
    O(diameter) — the property that makes the loop viable at 100 TB
    (VERDICT r3 item 6).
    """
    from pyspark.sql import functions as F

    block = 512
    n_nodes = 2_097_152  # 4096 chains of 512 nodes → ~2.09M edges
    edges = (
        spark.range(n_nodes - 1)
        .where((F.col("id") + 1) % block != 0)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    stats: dict = {}
    comp = identity.connected_components(edges, stats=stats)
    try:
        assert stats["path"] == "distributed"
        # component id must be the chain head (min member = id - id%block)
        n_bad = comp.where(
            F.col("component_id") != F.col("member") - F.col("member") % block
        ).count()
        assert n_bad == 0
        n_components = comp.select("component_id").distinct().count()
        assert n_components == n_nodes // block
        # path-halving convergence: ~log2(512)=9 rounds + slack, far
        # below the O(diameter)=512 a plain min-label loop would need
        assert 2 <= stats["rounds"] <= 20, stats
    finally:
        comp.unpersist()


def test_label_propagation_two_triangles_with_bridge(spark):
    # two triangles joined by one bridge edge: LPA (2 sync rounds,
    # min-label ties) keeps each triangle's community at its own min
    # label, while connected components would merge everything
    from kissmetrics_to_database_spark.operators.identity import (
        label_propagation,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),      # triangle 1
        ("x", "y"), ("y", "z"), ("x", "z"),      # triangle 2
        ("c", "x"),                                # bridge
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iters=2).collect()
    }
    assert got["a"] == got["b"] == "a"
    assert got["y"] == got["z"]
    # communities stay distinct across the bridge
    assert len({got["a"], got["y"]}) == 2


def test_cc_byte_budget_forces_distributed(spark):
    """r8: the local fast path must refuse a collect whose id payload
    exceeds the byte budget even when the EDGE COUNT is under the
    threshold — driver heap is bounded by bytes, not rows."""
    from pyspark.sql import functions as F

    wide = spark.range(200).select(
        F.concat(F.lit("n" * 500), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("n" * 500), (F.col("id") + 1).cast("string")).alias(
            "dst"
        ),
    )
    stats: dict = {}
    comp = identity.connected_components(
        wide, local_threshold=1_000_000, local_byte_budget=10_000,
        stats=stats,
    )
    assert stats["path"] == "distributed"
    assert stats["over_byte_budget"] > 10_000
    # one chain -> one component
    assert comp.select("component_id").distinct().count() == 1
