"""End-to-end batch pipeline: the reference's process-files command,
restated as one declarative flow (SURVEY.md §3.1).

  discover new files (natural order, after watermark)
  → one multi-file NDJSON scan (+ repair/quarantine)
  → per-row transform (sanitize, _n null-out, _t format, md5hash,
    created_at)
  → schema union vs. the existing lake table
  → lake append (+ optional exact dedup)
  → incremental identity closure from the new batch's alias pairs
  → advance watermark (only after the writes committed)

Spark actions per batch, each reading the one persisted parse of the
input lines (scan, repair, key union — see ``sources.json_repair``):

  1. one ``noop`` write that fills the parse cache; an ``Observation``
     on it takes the committed/repaired/quarantined counts and the
     batch's key union. One job, no shuffle;
  2. the lake append (the transform fuses into its projection). An
     ``Observation`` on it collects the batch's alias edges
     (``operators.identity.edge_list``), and the deduplicated row
     count when ``dedup_on_fingerprint`` is set. The identity map is
     then read, folded and rewritten on the driver without Spark
     (``operators.identity.fold_into_map``).

The edges are observed only while their bound, ``MAX_EDGES_PER_ROW``
per committed row, fits the room the map leaves under the fold's
driver limits (read from the map's parquet footers before the
append). Otherwise the fold takes the edges as a DataFrame: it counts
them, then collects them when they fit, or folds in Spark.

The data of a batch is small, so the driver's cost of building those
plans counts. Each call from Python into the JVM is a py4j socket
round trip, which the JVM serves by reflection. A warm batch makes
about 200 of them (perfbench's 20k-line batches): the parse, the
batch's columns, the transform and the edge rule are SQL text, one
``selectExpr`` per projection, and ``session.get_spark`` turns off
PySpark's DataFrame debugging, which added about ten round trips to
every ``Column`` call. Built from one ``Column`` per column and per
operator with the debugging on, the same batch made about 2,800.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kissmetrics_to_database_spark.functions import events_transform
from kissmetrics_to_database_spark.operators import identity
from kissmetrics_to_database_spark.sources import ndjson
from kissmetrics_to_database_spark.sources.json_repair import read_ndjson_with_repair
from kissmetrics_to_database_spark.sources.lock import PipelineLock


@dataclass
class PipelineResult:
    """Run report — the reference's counters/progress surface (A1/A5:
    before/after counts, rows/sec, elapsed; KissmetricsToDatabase.php:
    54-66,314-326,916-922) as a structured result instead of prints."""

    files: list[str] = field(default_factory=list)
    n_rows: int = 0
    n_repaired: int = 0
    n_quarantined: int = 0
    n_identity_members: int = 0
    n_identity_edges: int = 0
    identity_path: str | None = None  # "arrow" | "distributed"
    elapsed_sec: float = 0.0

    @property
    def rows_per_sec(self) -> float:
        return round(self.n_rows / self.elapsed_sec, 2) if self.elapsed_sec else 0.0


def read_events_lake(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Read the evolving events lake with schema merge across batches
    (the read-side half of S8: older files lack newer dynamic keys,
    which surface as NULL — same as the warehouse after ALTER ADD).

    Dynamic columns are written as strings. Files written before that
    hold a dynamic column as its JSON-inferred type (long, double,
    boolean, struct), which Spark's schema merge rejects against a
    string. When it does, :func:`_read_mixed_type_lake` reads the
    files and casts the mixed-type columns to string instead."""
    events = Path(lake_dir) / "events"
    try:
        return spark.read.option("mergeSchema", "true").parquet(str(events))
    except Exception as e:
        if "CANNOT_MERGE_SCHEMAS" not in str(e):
            raise
    return _read_mixed_type_lake(spark, sorted(events.glob("*.parquet")))


def _as_string(col: str, data_type: T.DataType) -> Column:
    if isinstance(data_type, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(col).alias(col)
    return F.col(col).cast("string").alias(col)


def _read_mixed_type_lake(spark: SparkSession, files: list[Path]) -> DataFrame:
    """The lake files grouped by schema (parquet footers, read without
    Spark), one scan per group. A column whose type differs between
    groups becomes a string in every group (nested values as JSON
    text), and the groups are unioned by name."""
    groups: dict[str, list[str]] = {}
    for f in files:
        key = pq.read_schema(f).remove_metadata().to_string()
        groups.setdefault(key, []).append(str(f))
    frames = [spark.read.parquet(*group) for group in groups.values()]
    types: dict[str, set[T.DataType]] = {}
    for df in frames:
        for fld in df.schema.fields:
            types.setdefault(fld.name, set()).add(fld.dataType)
    mixed = {name for name, seen in types.items() if len(seen) > 1}
    frames = [
        df.select(
            *[
                _as_string(f.name, f.dataType) if f.name in mixed else F.col(f.name)
                for f in df.schema.fields
            ]
        )
        for df in frames
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    lake_dir: str,
    fixed_date: str | None = None,
    process_identities: bool = True,
    dedup_on_fingerprint: bool = False,
) -> PipelineResult:
    """One incremental run. Idempotent: a second invocation with no
    new files writes nothing (watermark semantics, S4/S5). A lock
    file under ``state_dir`` enforces single-writer (S10)."""
    t0 = time.perf_counter()
    with PipelineLock(Path(state_dir) / "run.lock"):
        return _run_locked(
            spark,
            source_dir,
            state_dir,
            lake_dir,
            fixed_date,
            process_identities,
            dedup_on_fingerprint,
            t0,
        )


def _run_locked(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    lake_dir: str,
    fixed_date: str | None,
    process_identities: bool,
    dedup_on_fingerprint: bool,
    t0: float,
) -> PipelineResult:
    wm = ndjson.Watermark(Path(state_dir) / "watermark.json")
    session_start = wm.read()
    files = ndjson.discover_files(source_dir, after=session_start)
    if not files:
        return PipelineResult()

    batch = read_ndjson_with_repair(spark, spark.read.text(files))
    result = PipelineResult(
        files=files,
        n_rows=batch.n_committed,
        n_repaired=batch.n_repaired,
        n_quarantined=batch.n_quarantined,
    )
    # from here on the parse is cached: whatever fails, release it, or
    # a later read of the same path is answered from the stale cache
    try:
        transformed = events_transform.transform_events(batch.rows(), fixed_date=fixed_date)
        if dedup_on_fingerprint:
            transformed = transformed.dropDuplicates(["md5hash"])
        map_dir = str(Path(lake_dir) / "identity_components")
        fold = process_identities and "_p" in transformed.columns
        max_edges = batch.n_committed * identity.MAX_EDGES_PER_ROW
        observe_edges = fold and max_edges <= identity.map_room(map_dir)
        metrics = []
        if observe_edges:
            metrics.append(identity.edge_list(transformed.columns).alias("edges"))
        if dedup_on_fingerprint:
            metrics.append(F.count(F.lit(1)).alias("rows"))
        observed = Observation()
        appended = transformed.observe(observed, *metrics) if metrics else transformed
        appended.write.mode("append").parquet(str(Path(lake_dir) / "events"))
        seen = observed.get if metrics else {}
        result.n_rows = seen.get("rows", result.n_rows)
        if fold:
            # fold the new batch into the existing map — alias chains
            # that span runs must merge (the reference's incremental
            # path KTD:359-394)
            (
                result.n_identity_members,
                result.n_identity_edges,
                result.identity_path,
            ) = identity.fold_into_map(
                identity.edges_table(seen["edges"])
                if observe_edges
                else identity.alias_edges_kissmetrics(transformed),
                map_dir,
                max_edges,
            )
        wm.advance(files[-1])
    except Exception:
        wm.rollback(session_start)
        raise
    finally:
        batch.unpersist()

    result.elapsed_sec = round(time.perf_counter() - t0, 3)
    return result
