"""Identity resolution: connected components over the alias graph.

The reference builds the transitive closure of user-alias pairs in
driver memory (reference: src/KissmetricsToDatabase.php:359-455 is the
per-event incremental + global rebuild, :506-559 the abandoned
cluster-merge rewrite, teste.php:46-98 the working single-node
algorithm, src/Operations/FileImporter.php:95-131 the per-row lookup).
That design holds the whole identity map in one process — the
scalability wall this engine removes.

Spark-first restatement: the alias pairs are an undirected edge
DataFrame; identity resolution is **connected components by iterative
min-id propagation** (large-star/small-star style label propagation —
public algorithm, e.g. Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14):

    comp(v) ← min(comp(v), min over neighbors u of comp(u))

repeated until fixpoint. Each round is one shuffle (join on node id +
groupBy min); rounds needed = O(graph diameter), which for identity
graphs (stars around canonical users) is tiny (2-4). ``localCheckpoint``
every round cuts the lineage so plans don't grow superlinearly — at
100 TB this loop runs over an edge table partitioned by node id and
every round is a co-partitioned shuffle.

Determinism contract (FIXTURES.md): component id = minimum member id
under plain string ordering; the reference's ``LIMIT 1`` lookup
tie-break (FileImporter.php:107) is replaced by min-id.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce
from pathlib import Path
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Driver limits of the union-find paths, in distinct undirected edge
# rows and in raw id chars over those rows (256 MB of chars is a few
# hundred MB of Python objects after boxing).
_LOCAL_THRESHOLD = 1_000_000
_LOCAL_BYTE_BUDGET = 256 << 20


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a ``localCheckpoint``ed DataFrame's
    blocks (r14, ADVICE r13 #2 pattern): the public Dataset API has no
    release call for checkpoint storage — the blocks otherwise stay
    alive until driver GC notices the RDD is unreferenced, which in an
    iterative loop accumulates one full state copy per round. The
    analyzed plan of a checkpointed Dataset is a ``LogicalRDD`` whose
    ``rdd`` accessor is the cached internal RDD (public Spark source);
    any mismatch just leaves the blocks to GC, exactly the old
    behavior."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def undirect_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Normalize an edge list to undirected, self-loop-free, distinct."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    return (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    local_threshold: int = _LOCAL_THRESHOLD,
    local_byte_budget: int = _LOCAL_BYTE_BUDGET,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(member, component_id)`` with component_id = min member.

    Adaptive strategy (the AQE philosophy applied to an iterative
    algorithm — pick the physical plan by observed size):
    - small edge sets (≤ ``local_threshold`` distinct undirected
      edges) solve driver-side with union-find: one collect instead
      of O(log d) scheduled rounds, which at cluster scale is the
      difference between milliseconds and a dozen barrier stages.
      Driver heap bound (r8, VERDICT r7 #5): before collecting,
      a one-aggregation BYTE probe sums the id string lengths of
      the candidate edge set; if the payload would exceed
      ``local_byte_budget`` (default 256 MB raw chars — a few
      hundred MB of Python objects after the ~4× boxing overhead),
      the distributed path runs instead. The worst case is
      therefore bounded by the budget, not by whatever 2·1M ids
      happen to weigh.
    - larger graphs run iterative min-label propagation with pointer
      jumping (O(log diameter) rounds), ``localCheckpoint`` lineage
      cuts per round, and AQE skew-join splitting for hub nodes
      (celebrity aliases).
    Both paths produce identical output (component id = min member);
    the tests pin them against a union-find ground truth.

    ``stats`` (optional dict) receives observability fields after the
    run: ``path`` ("local" | "distributed") and, on the distributed
    path, ``rounds`` — the pointer-jumping convergence proof the
    2M-edge smoke test asserts on (O(log diameter), VERDICT r3
    item 6).
    """
    und = undirect_edges(edges, src, dst).persist()
    if stats is None:
        stats = {}
    if local_threshold:
        # size probe: one aggregate prices the collect in rows and in
        # id chars (row count alone doesn't bound driver heap — 1M
        # edges of 200-char ids is ~400 MB of raw chars before Python
        # boxing) and ships one row to the driver. It fills the
        # persisted ``und``, which the distributed path scans anyway.
        n_edges, raw_bytes = und.agg(
            F.count(F.lit(1)),
            F.sum(F.length(F.col("src")) + F.length(F.col("dst"))),
        ).first()
        if n_edges <= local_threshold:
            if raw_bytes is None or raw_bytes <= local_byte_budget:
                try:
                    stats["path"] = "local"
                    return _connected_components_local(und)
                finally:
                    und.unpersist()
            stats["over_byte_budget"] = int(raw_bytes)
    stats["path"] = "distributed"
    stats["rounds"] = 0
    comp = (
        und.select(F.col("src").alias("member"))
        .distinct()
        .withColumn("component_id", F.col("member"))
        .persist()
    )
    comp0 = comp
    prev_state = comp

    for _it in range(max_iterations):
        # Candidate label for each node: min of its neighbors' labels.
        neighbor_min = (
            und.join(comp, und.dst == comp.member, "inner")
            .select(und.src.alias("member"), F.col("component_id"))
            .groupBy("member")
            .agg(F.min("component_id").alias("neighbor_component_id"))
        )
        # Pointer jumping (path halving): comp(v) ← comp(comp(v)).
        # The jump reads the PREVIOUS round's materialized labels —
        # one round staler than jumping through the fresh tentative
        # labels, but it avoids a second materialization per round
        # (labels decrease monotonically, so a stale jump is still a
        # valid compression and the fixpoint is unchanged). Net:
        # O(diameter) rounds → O(log diameter), one localCheckpoint
        # per round.
        jump = comp.select(
            F.col("member").alias("j_member"),
            F.col("component_id").alias("j_component_id"),
        )
        tentative = comp.join(neighbor_min, "member", "left").select(
            "member",
            F.col("component_id").alias("prev_id"),
            F.least(
                F.col("component_id"), F.col("neighbor_component_id")
            ).alias("component_id"),
        )
        jumped = F.least(
            F.coalesce(F.col("j_component_id"), F.col("component_id")),
            F.col("component_id"),
        )
        updated = tentative.join(
            jump, tentative.component_id == jump.j_member, "left"
        ).select(
            "member",
            jumped.alias("component_id"),
            (jumped < F.col("prev_id")).alias("_changed"),
        )
        # One job per round, bounded state (r14, VERDICT r13 #6 — the
        # r13 shape paid TWO actions per round: an eager
        # localCheckpoint, then the convergence count). A LAZY
        # localCheckpoint truncates the lineage structurally at once
        # (each round references the previous labels TWICE — via
        # neighbor_min and the pointer jump — so an untruncated plan
        # doubles per round), and the convergence count is then the
        # action that materializes the checkpoint: one job does both.
        # The previous round's checkpoint blocks are released
        # explicitly (best-effort — see _release_local_checkpoint)
        # instead of lingering until GC.
        updated = updated.localCheckpoint(eager=False)
        n_changed = updated.where(F.col("_changed")).count()
        stats["rounds"] += 1
        if prev_state is not None:
            if prev_state is comp0:
                prev_state.unpersist()
            else:
                _release_local_checkpoint(prev_state)
        prev_state = updated
        comp = updated.drop("_changed")
        if n_changed == 0:
            break

    und.unpersist()
    return comp


def _union_by_min(parent: dict, pairs) -> list:
    """Union-find of ``pairs`` into ``parent`` (member → parent, roots
    point at themselves), returning the root of every member of
    ``parent`` in its order. Union by min keeps each root the least
    member of its component. A pair with a null end or a self-loop adds
    nothing, the edge rule of :func:`undirect_edges`."""

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [find(m) for m in parent]


def _connected_components_local(und: DataFrame) -> DataFrame:
    """Driver-side union-find over a small undirected edge set."""
    spark = und.sparkSession
    parent: dict = {}
    roots = _union_by_min(parent, und.collect())
    node_type = und.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("member", node_type),
            T.StructField("component_id", node_type),
        ]
    )
    # a pandas frame goes to the JVM as Arrow batches (session.py
    # enables Arrow): no Python worker evaluates it, so each of the
    # callers' reads of the result stays in the JVM. One partition: the
    # rows are already on the driver, and a SinglePartition result lets
    # a sort or aggregate over it plan no exchange.
    return spark.createDataFrame(
        pd.DataFrame({"member": list(parent), "component_id": roots}), schema
    ).coalesce(1)


def update_components(
    existing: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Incremental identity update in Spark: fold a new edge batch into
    an existing component map. This is the large-map path of
    :func:`fold_into_map`, which folds a map within the driver limits
    of :func:`connected_components` in Arrow instead.

    The reference updates its identity clusters per event as rows
    stream in (KissmetricsToDatabase.php:359-394); the batch-set
    restatement treats the existing ``(member, component_id)`` map as
    edges (each member linked to its label) unioned with the new
    batch, then re-runs connected components over that union. The
    old map's "chains" are already fully compressed (every member
    points directly at its component min), so the distributed path
    converges in O(log diameter of the NEW batch) rounds — but every
    call still reads, solves and returns the WHOLE map: the cost grows
    with the identity history, not with the batch.

    Declared property (SURVEY §5.3, verified in tests): incremental
    folding over any batch split equals the global rebuild.
    """
    label_edges = existing.select(
        F.col("member").alias("src"), F.col("component_id").alias("dst")
    )
    combined = label_edges.union(
        new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    merged = connected_components(combined, max_iterations=max_iterations)
    # singletons (member == component_id) appear as self-loops above
    # and are dropped by edge normalization; if no new edge touched
    # them, their old mapping is still correct — carry it over.
    untouched = existing.join(merged, "member", "left_anti")
    return merged.union(untouched.select("member", "component_id"))


class Fold(NamedTuple):
    """What :func:`fold_into_map` did."""

    members: int  # rows of the new map
    edges: int  # edge rows of the batch
    path: str  # "arrow" (on the driver) or "distributed" (Spark)


_MAP_FILE = "part-00000.parquet"


def map_room(map_dir: str, local_threshold: int = _LOCAL_THRESHOLD) -> int:
    """The edge rows a batch may bring for :func:`fold_into_map` to
    fold it on the driver into the map at ``map_dir``: half of
    ``local_threshold`` less the map's rows, read from its parquet
    footers. Negative when the map alone is past the limit. Clears
    what a crashed fold left beside the map first."""
    path = Path(map_dir)
    _recover_swap(path)
    return local_threshold // 2 - sum(
        pq.read_metadata(f).num_rows for f in _map_files(path)
    )


def fold_into_map(
    edges: DataFrame | pa.Table,
    map_dir: str,
    max_edges: int,
    local_threshold: int = _LOCAL_THRESHOLD,
) -> Fold:
    """Fold a batch of ``(src, dst)`` alias edges into the
    ``(member, component_id)`` parquet map at ``map_dir``, in place.
    ``edges`` is a DataFrame, or an Arrow table the caller already
    holds on the driver (see :func:`edge_list`). ``max_edges`` is the
    caller's upper bound on the rows of a DataFrame ``edges``, such as
    its input rows times :data:`MAX_EDGES_PER_ROW`.

    The reference keeps its identity clusters in driver memory and
    updates them per event (KissmetricsToDatabase.php:359-394). While
    the fold stays within the driver limits of
    :func:`connected_components` (``local_threshold`` rows and
    ``_LOCAL_BYTE_BUDGET`` id chars over the undirected edge set
    :func:`update_components` would build, priced as upper bounds:
    every map row and batch edge counts both ways), it runs on the
    driver too, with at most one Spark job: the edge collect, none
    when the edges come as Arrow. The map's rows come from its parquet
    footers (:func:`map_room`); the map is read, as Arrow, only once
    they fit, and its chars are summed from the Arrow buffers.
    The map then seeds the union-find directly (``parent[member] =
    component_id``: the map is fully compressed), the edges are
    applied, and the new map is written as one file.
    Above the limits the batch folds in Spark with
    :func:`update_components`. Both paths give the same map.

    The edge collect has no ``LIMIT``: a limit's literal would change
    with every batch as the map grows, and each limit operator gets a
    fresh generated-code variable, so its classes would be compiled
    again on every batch; a global limit also adds a single-partition
    stage. Instead ``max_edges`` tells whether the batch can fit: when
    it is above the map's room, the edges are counted first (the Spark
    path needs that count anyway), so the driver path reaches exactly
    as far as a limited collect. A bound that undercounts lets every
    edge be collected, but no more than the room is folded on the
    driver: the fold checks the collected rows again. A caller that
    passes Arrow edges keeps the same reach by collecting them only
    when its bound fits :func:`map_room`.

    A reader sees the old map or the new one, never a partial one: the
    one-file map is replaced by ``os.replace`` of a dot-prefixed file
    beside it (Spark and pyarrow skip such names), and any other
    layout, such as a multi-part map Spark wrote, is built in a
    sibling directory and swapped in by renames. New files and the
    renames are fsynced, so this holds after an OS crash too, on a
    filesystem that honours fsync.
    """
    path = Path(map_dir)
    room = map_room(map_dir, local_threshold)
    files = _map_files(path)
    n_edges = new = None
    if isinstance(edges, pa.Table):
        new = edges
    elif 0 <= room:
        n_edges = edges.count() if room < max_edges else None
        if (max_edges if n_edges is None else n_edges) <= room:
            new = edges.toArrow()
    if new is not None:
        n_edges = new.num_rows
        if n_edges <= room:
            old = (
                pa.concat_tables(
                    pq.read_table(f, columns=["member", "component_id"]) for f in files
                )
                if files
                else None
            )
            chars = _chars(new) + (_chars(old) if old is not None else 0)
            if 2 * chars <= _LOCAL_BYTE_BUDGET:
                members = _fold_arrow(path, files, old, new)
                return Fold(members, n_edges, "arrow")

    if isinstance(edges, pa.Table):
        edges = SparkSession.active().createDataFrame(edges)
    if n_edges is None:
        n_edges = edges.count()
    if files:
        existing = edges.sparkSession.read.parquet(str(path))
        comp = update_components(existing, edges)
    else:
        comp = connected_components(edges)
    staged = _sibling(path, "new")
    comp.write.parquet(str(staged))
    members = sum(pq.read_metadata(f).num_rows for f in _map_files(staged))
    _swap(path, staged)
    return Fold(members, n_edges, "distributed")


def _chars(table: pa.Table) -> int:
    """Raw chars of the ids in ``table``, counted as ``F.length``
    counts them."""
    return sum(
        pc.sum(pc.utf8_length(c.cast(pa.string()))).as_py() or 0
        for c in table.columns
    )


def _fold_arrow(
    path: Path, files: list[Path], old: pa.Table | None, new: pa.Table
) -> int:
    """Union-find of the Arrow edges ``new`` seeded with the map
    ``old`` read from ``files``; writes the new map and returns its
    row count."""
    if old is not None:
        node_type = old.schema.field("member").type
        parent = dict(
            zip(old.column("member").to_pylist(), old.column("component_id").to_pylist())
        )
    else:
        node_type = new.schema.field("src").type
        parent = {}
    roots = _union_by_min(
        parent, zip(new.column("src").to_pylist(), new.column("dst").to_pylist())
    )
    table = pa.table(
        {
            "member": pa.array(list(parent), node_type),
            "component_id": pa.array(roots, node_type),
        }
    )
    if [f.name for f in files] == [_MAP_FILE]:
        tmp = path / f".{_MAP_FILE}.tmp"
        pq.write_table(table, tmp)
        fsync_path(tmp)
        os.replace(tmp, path / _MAP_FILE)
        fsync_path(path)
    else:
        staged = _sibling(path, "new")
        staged.mkdir(parents=True)
        pq.write_table(table, staged / _MAP_FILE)
        _swap(path, staged)
    return table.num_rows


def _map_files(path: Path) -> list[Path]:
    """The data files Spark and pyarrow read from a map directory:
    both skip names that start with ``.`` or ``_``."""
    if not path.is_dir():
        return []
    return sorted(
        f for f in path.iterdir() if f.is_file() and not f.name.startswith((".", "_"))
    )


def _sibling(path: Path, tag: str) -> Path:
    return path.parent / f".{path.name}.{tag}"


def fsync_path(path: Path) -> None:
    """Flush a file's data, or a directory's entries, to disk."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _swap(path: Path, staged: Path) -> None:
    """Put the directory ``staged`` at ``path`` by renames, once its
    files are on disk. The old map is parked beside it until the new
    one is in place."""
    for f in staged.iterdir():
        fsync_path(f)
    fsync_path(staged)
    old = _sibling(path, "old")
    if path.exists():
        os.replace(path, old)
    os.replace(staged, path)
    fsync_path(path.parent)
    shutil.rmtree(old, ignore_errors=True)


def _recover_swap(path: Path) -> None:
    """Clear what a crash during a fold left beside the map: put a
    parked old map back if the swap did not finish, and drop a staged
    map."""
    old, staged = _sibling(path, "old"), _sibling(path, "new")
    if old.exists() and not path.exists():
        os.replace(old, path)
        fsync_path(path.parent)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)


def canonical_map(components: DataFrame) -> DataFrame:
    """``(member, canonical)`` mapping — the FileImporter.php:95-131
    lookup table, set-based: canonical = component minimum."""
    return components.select(
        F.col("member"), F.col("component_id").alias("canonical")
    )


def all_pairs(components: DataFrame) -> DataFrame:
    """All ordered pairs (a ≠ b) within each component.

    Reference: KissmetricsToDatabase.php:379-392,445-449 materializes
    every (identity1, identity2) pair of a merged cluster, both
    directions, excluding self-pairs. Self-join on component_id; at
    scale this is quadratic per component by definition — prefer
    :func:`canonical_map` (linear) unless all-pairs output is required.
    """
    a = components.select(
        F.col("component_id"), F.col("member").alias("identity1")
    )
    b = components.select(
        F.col("component_id"), F.col("member").alias("identity2")
    )
    return (
        a.join(b, "component_id")
        .where(F.col("identity1") != F.col("identity2"))
        .select("identity1", "identity2")
    )


def resolve_events(
    events: DataFrame,
    mapping: DataFrame,
    person_col: str = "_p",
) -> DataFrame:
    """J1: annotate events with their canonical identity.

    Reference: FileImporter.php:95-118 does a per-row indexed lookup
    (``alias IN (id, alias) LIMIT 1``) with fallback to the raw id.
    Set-based: one broadcast left join + coalesce. The mapping is
    (#distinct identities) rows — for typical identity cardinalities it
    broadcasts; if it outgrows the broadcast threshold Spark falls back
    to a shuffled join automatically, so this stays correct at 100 TB.
    """
    m = F.broadcast(mapping.withColumnRenamed("member", person_col))
    return events.join(m, person_col, "left").withColumn(
        "canonical", F.coalesce(F.col("canonical"), F.col(person_col))
    )


# The most edges alias_edges_kissmetrics yields for one event row: one
# ``_p2`` edge plus the two edges of an "updated email" event.
MAX_EDGES_PER_ROW = 3

_EDGE = T.StructType(
    [T.StructField("src", T.StringType()), T.StructField("dst", T.StringType())]
)


def edge_columns(columns: list[str]) -> list[str]:
    """The alias-edge rule of Kissmetrics rows (P9-P11), as SQL text:
    one nullable ``struct<src, dst>`` expression per edge source, NULL
    when the row yields no edge from that source. Per
    KissmetricsToDatabase.php:401-436:
    - alias records: ``_p2 != ''`` → edge (_p, _p2), skipping pairs
      whose first identity contains '@' (:414-416);
    - 'updated email' events → edges (_p, new_email) and
      (_p, previous_email) (:427-436), each only when its email is not
      empty and ``_p`` is not NULL (an edge with a NULL end joins
      nothing, so it is not yielded or counted).

    Schema-aware: the event schema is dynamic (S8), so each edge
    source only applies when its columns exist among ``columns``.
    """
    cols = set(columns)
    out = []
    if "_p2" in cols:
        out.append(
            "CASE WHEN _p2 IS NOT NULL AND _p2 != '' AND NOT contains(_p, '@') "
            "THEN named_struct('src', _p, 'dst', _p2) END"
        )
    if {"_n_not_null", "new_email", "previous_email"} <= cols:
        for name in ("new_email", "previous_email"):
            out.append(
                f"CASE WHEN _n_not_null = 'updated email' AND _p IS NOT NULL "
                f"AND {name} IS NOT NULL AND {name} != '' "
                f"THEN named_struct('src', _p, 'dst', {name}) END"
            )
    return out


def alias_edges_kissmetrics(events: DataFrame) -> DataFrame:
    """The ``(src, dst)`` identity edges of raw Kissmetrics rows, one
    row per non-NULL value of each :func:`edge_columns` expression."""
    parts = [
        events.selectExpr(f"{c} AS e").where("e IS NOT NULL").select("e.*")
        for c in edge_columns(events.columns)
    ]
    if not parts:
        return events.sparkSession.createDataFrame([], _EDGE)
    return reduce(DataFrame.union, parts)


def edge_list(columns: list[str]) -> Column:
    """An aggregate for ``DataFrame.observe``: every edge that rows with
    ``columns`` yield, the ``collect_list`` of each :func:`edge_columns`
    expression. Observed on the write of those rows, it collects the
    edges with no job of their own; :func:`edges_table` turns the
    observed value into the Arrow edges :func:`fold_into_map` takes. It
    holds every edge on the driver, so observe it only when the rows'
    bound, ``MAX_EDGES_PER_ROW`` each, fits :func:`map_room`."""
    lists = [f"collect_list({c})" for c in edge_columns(columns)]
    if not lists:
        return F.expr(f"CAST(array() AS array<{_EDGE.simpleString()}>)")
    return F.expr(f"concat({', '.join(lists)})")


def edges_table(rows: list) -> pa.Table:
    """The observed value of :func:`edge_list` as an Arrow table."""
    return pa.table(
        {
            "src": pa.array([r[0] for r in rows], pa.string()),
            "dst": pa.array([r[1] for r in rows], pa.string()),
        }
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    ndigits: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected identity graph —
    the centrality companion to connected components: within a merged
    identity cluster, the top-ranked node is the natural canonical
    record (most-linked alias), and rank mass flags hub identities
    that deserve human review before an irreversible merge.

    Each iteration is the canonical distributed plan: one equi-join of
    the edge list against the current ranks (shuffle keyed on node),
    one per-node sum, and a broadcast 1-row node count for the
    teleport term. The loop depth is a compile-time constant with no
    driver-side iteration state; the edge list and degree table are
    lineage-cut (lazy localCheckpoint) since every unrolled iteration
    reuses them — the per-iteration subplans stay flat and AQE
    re-plans each stage at runtime. Undirected doubling
    guarantees every node has out-degree >= 1 (no dangling-mass
    correction needed). Ranks round to ``ndigits`` at every iteration
    — float summation order never leaks into results, so output is
    engine-exact (the same contract the k-means loop pins).
    """
    fwd = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    und = (
        fwd.where(F.col("_s") != F.col("_d"))
        .union(
            fwd.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")).where(
                F.col("_s") != F.col("_d")
            )
        )
        .distinct()
        # und and deg appear in EVERY unrolled iteration — without a
        # lineage cut the edge-derivation subtree is re-planned and
        # re-executed per iteration and the plan tree grows
        # exponentially-shaped (measured 6x wall on the bench suite)
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").cast("long").alias("_deg")
    ).localCheckpoint(eager=False)
    total = deg.agg(F.count("*").cast("double").alias("_n"))
    ranks = deg.crossJoin(F.broadcast(total)).select(
        "node", "_deg", F.round(F.lit(1.0) / F.col("_n"), ndigits).alias("rank")
    )
    teleport = (F.lit(1.0) - F.lit(damping)) / F.col("_n")
    for _ in range(iters):
        contrib = und.join(
            ranks, und["_s"] == ranks["node"]
        ).select(
            F.col("_d").alias("node"),
            (F.col("rank") / F.col("_deg")).alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_sum"))
        ranks = (
            deg.crossJoin(F.broadcast(total))
            .join(sums, "node", "left")
            .select(
                "node",
                "_deg",
                F.round(
                    teleport
                    + F.lit(damping) * F.coalesce("_sum", F.lit(0.0)),
                    ndigits,
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered orientation — the
    distributed-graph classic that makes triangle enumeration safe on
    skewed graphs.

    Naive triangle counting joins the edge list against itself on
    shared endpoints: a hub of degree d spawns d^2 wedge rows, and at
    100 TB one celebrity node OOMs the stage. The fix (Cohen 2009 /
    Suri-Vassilvitskii 2011): orient every edge from its
    lower-(degree, id) endpoint to the higher one. Each triangle then
    has exactly ONE node with two out-edges, every wedge is generated
    at that node, and out-degree is bounded by O(sqrt(m)) — so the
    wedge join is sum(outdeg^2) <= O(m^1.5), independent of how
    skewed the original degrees are.

    Three equi-joins, no cartesian: degree join, wedge self-join on
    the apex, closing-edge semi join. Returns (node, n_triangles)
    for nodes in >= 1 triangle.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        # e feeds degree, orientation, and the closing-edge join —
        # cut the upstream lineage (often an expensive banded/LSH
        # join) so it computes once, same device as the CC loop
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    ej = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("_db")), "b")
    )
    lower_first = F.struct(F.col("_da"), F.col("a")) < F.struct(
        F.col("_db"), F.col("b")
    )
    d = ej.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            lower_first,
            F.struct(F.col("_db").alias("d"), F.col("b").alias("n")),
        )
        .otherwise(F.struct(F.col("_da").alias("d"), F.col("a").alias("n")))
        .alias("rv"),
    ).localCheckpoint(eager=False)  # feeds both wedge sides + closing
    d1 = d.select(F.col("u"), F.col("v").alias("_v"), F.col("rv").alias("_rv"))
    d2 = d.select(F.col("u"), F.col("v").alias("_w"), F.col("rv").alias("_rw"))
    wedges = d1.join(d2, "u").where(F.col("_rv") < F.col("_rw"))
    closing = d.select(F.col("u").alias("_v"), F.col("v").alias("_w"))
    tri = wedges.join(closing, ["_v", "_w"], "leftsemi").select(
        F.col("u").alias("x"), F.col("_v").alias("y"), F.col("_w").alias("z")
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected graph: every node starts labeled with itself; each
    round it adopts the most frequent label among its neighbors (ties
    → minimum label, so the algorithm is fully deterministic — the
    async/random variant is not oracle-comparable).

    Communities differ from connected components: LPA splits a
    sparsely-bridged component along its dense cores, which for an
    identity graph separates genuinely-shared devices from
    weakly-linked alias chains before an irreversible merge.

    Constant-depth unrolled loop, like pagerank: per round one
    co-partitioned join (neighbor labels) + one (node, label) count +
    one per-node argmax window — all keyed on the node id, so the
    rounds reuse one partitioning. Returns (node, community).
    """
    und = undirect_edges(edges, src, dst)
    labels = (
        und.select(F.col(src).alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iters):
        neigh = und.join(
            labels.withColumnRenamed("node", "_nb"),
            F.col(dst) == F.col("_nb"),
        ).select(F.col(src).alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(
            F.count("*").alias("_n")
        )
        w = Window.partitionBy("node").orderBy(F.desc("_n"), "label")
        labels = (
            counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select("node", "label")
        )
    return labels.withColumnRenamed("label", "community")
