"""Streaming wrapper: the batch transforms under Structured Streaming.

The reference is a repeated incremental batch loop — the precursor of
Structured Streaming's file source (SURVEY.md §2.9): watermark =
checkpointed file index, at-least-once delivery = foreachBatch + txn
sink, natural file order = file-source ordering.

Every transform in this engine is a pure DataFrame→DataFrame
function, so the same code runs under ``spark.read`` and
``readStream``:
- ``stream_ndjson_pipeline``: file-source stream → per-row transform
  → foreachBatch sink (checkpoint dir carries the processed-file
  index — the reference's watermark file, managed by Spark);
- ``windowed_event_counts``: the event-time extension (watermark +
  tumbling window) the reference never had, for late data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kissmetrics_to_database_spark.functions import events_transform


def stream_ndjson_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    sink: Callable[[DataFrame, int], None],
    fixed_date: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source NDJSON stream → reference transform → foreachBatch.

    ``sink(batch_df, epoch_id)`` runs the terminal write (JDBC/parquet)
    transactionally per micro-batch; the checkpoint commits only after
    it returns — the reference's advance-after-commit watermark
    contract, managed by the engine.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)
    transformed = events_transform.transform_events(raw, fixed_date=fixed_date)
    return (
        transformed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def jdbc_exactly_once_sink(spark: SparkSession, cfg) -> Callable:
    """EXACTLY-ONCE warehouse sink for ``foreachBatch`` (VERDICT r6
    item 4): composes the staged atomic JDBC load
    (:func:`sources.sink.write_jdbc_staged`) with its batch-epoch
    idempotence ledger. Structured Streaming's foreachBatch is
    at-least-once — a crash between the sink returning and the
    checkpoint commit REPLAYS the micro-batch — so the sink keys each
    load on ``epoch_id``:

    - the stage table is private per epoch (``load_id=f"e{epoch}"``),
      so a replay re-staging rows can't clobber a concurrent load;
    - the ledger row and the stage→target INSERT commit in ONE
      driver transaction — the replay finds the epoch recorded and
      skips, or finds nothing and reloads; a half-load is impossible.

    The lake/state streaming paths were already replay-safe
    (idempotent overwrite by epoch); this closes the JDBC-specific
    double-insert (COVERAGE §2.9).
    """
    from kissmetrics_to_database_spark.sources import sink as _sink

    def sink_fn(batch_df: DataFrame, epoch_id: int) -> None:
        _sink.write_jdbc_staged(
            spark,
            batch_df,
            cfg,
            load_id=f"e{int(epoch_id)}",
            epoch_id=int(epoch_id),
        )

    return sink_fn


def stream_with_identity(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    lake_dir: str,
    fixed_date: str | None = None,
) -> StreamingQuery:
    """The reference's full production loop under Structured
    Streaming: NDJSON file stream → per-row transform → lake append +
    **incremental identity closure folded per micro-batch**
    (KissmetricsToDatabase.php:359-394's per-event identity update,
    batch-set restated via ``identity.fold_into_map``).

    The component map lives in parquet under ``lake_dir`` and is
    folded forward each batch — the growing identity state the
    reference kept in driver memory. It is folded on the driver while
    it fits ``fold_into_map``'s limits and in Spark beyond them.
    """
    return stream_ndjson_pipeline(
        spark,
        source_dir,
        checkpoint_dir,
        schema,
        identity_lake_sink(lake_dir),
        fixed_date,
    )


def identity_lake_sink(lake_dir: str) -> Callable[[DataFrame, int], None]:
    """The foreachBatch sink behind :func:`stream_with_identity`,
    exposed so the exactly-once replay contract is directly
    testable: epoch-partitioned idempotent event append + identity
    component fold."""
    from pathlib import Path

    from kissmetrics_to_database_spark.operators import identity

    comp_path = str(Path(lake_dir) / "identity_components")
    events_path = str(Path(lake_dir) / "events")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            # EXACTLY-ONCE lake append (VERDICT r7 #4): foreachBatch
            # replays a crashed epoch, and a plain mode("append")
            # would double-append its events. Writing each epoch to
            # its own partition dir with overwrite makes the replay
            # idempotent — the same pattern the epoch-versioned state
            # sinks use. Readers see one `epoch` partition column;
            # at 100 TB the per-epoch dirs are also the natural
            # compaction / retention unit.
            observed = Observation()
            batch_df.observe(observed, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(f"{events_path}/epoch={int(epoch_id)}")
            # a replayed epoch folds the same edges again: union-find
            # is idempotent, so the map does not change. The bound is
            # the micro-batch's rows, observed on the append. The edges
            # are not observed there: nothing bounds a micro-batch's
            # rows before its append, so a huge one would hold every
            # edge on the driver.
            identity.fold_into_map(
                identity.alias_edges_kissmetrics(batch_df),
                comp_path,
                observed.get["rows"] * identity.MAX_EDGES_PER_ROW,
            )
        finally:
            batch_df.unpersist()

    return sink


def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup bounded by event time.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes — the streaming form of the reference's
    dedup intent (KissmetricsToDatabase.php:656-672) that a plain
    ``dropDuplicates`` on a stream can't provide (its state grows
    forever). At 100 TB/day the state size is rate × lateness, not
    history size. Works on static frames too (plain dropDuplicates
    semantics) so the batch tests pin the key behavior.
    """
    with_wm = events.withWatermark(ts_col, late_threshold)
    if events.isStreaming:
        return with_wm.dropDuplicatesWithinWatermark(key_cols)
    return with_wm.dropDuplicates(key_cols)


def stream_static_enrich(
    stream_events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream–static broadcast enrichment join.

    The static side is re-read per micro-batch by the engine and
    broadcast (no shuffle on the unbounded side) — the streaming form
    of J1's canonical-identity lookup (SURVEY §2.3): events arrive as
    a stream, the identity/dimension map is a slowly-changing table.
    """
    return stream_events.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream equi-join with an event-time interval bound —
    the attribution shape (click stream ⋈ purchase stream: purchases
    within ``within`` after the click, same key).

    Both sides carry a watermark, and the time-range predicate bounds
    the join state: the engine can discard a buffered left row once
    the right watermark passes ``left.ts + within`` (and vice versa),
    so state is rate × (within + watermark) — never unbounded. This
    is the one join shape that genuinely requires Structured
    Streaming state; every other catalog join is stateless per batch.

    ``how='left_outer'`` adds attribution's other half: a left row
    with NO right match within the interval is emitted exactly once —
    with null right fields — when the watermark passes its match
    window (a click that never converted, finalized). Outer results
    are therefore delayed by the watermark; inner results stream
    immediately.

    Returns (key, ts_left, ts_right, lag_seconds), usable identically
    on static frames (tested both ways).
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (
            F.col(f"r.{ts_col}")
            <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, how).select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{ts_col}").alias("ts_left"),
        F.col(f"r.{ts_col}").alias("ts_right"),
        (
            F.col(f"r.{ts_col}").cast("long")
            - F.col(f"l.{ts_col}").cast("long")
        ).alias("lag_seconds"),
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling aggregation with a lateness watermark —
    works identically on a static or streaming DataFrame (the batch
    shape is the catalog's tumbling_window_hourly query)."""
    return (
        events.withWatermark(ts_col, late_threshold)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_hll_distinct(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    group_col: str,
    value_col: str,
    table_dir: str,
    b: int = 8,
) -> StreamingQuery:
    """Streaming HyperLogLog: per-group distinct-count state that
    never grows past ``2^b`` registers per group, no matter how many
    events stream through.

    The register update IS a streaming aggregation —
    ``groupBy(group, register).max(rho)`` — because HLL state merges
    by max (associative, commutative, idempotent). Each micro-batch's
    ``foreachBatch`` merges the updated registers into a parquet
    REGISTER TABLE at ``table_dir`` (union + re-max, fully
    distributed): the serving state lives in the lake, bounded at
    ``groups × 2^b`` skinny rows, and the driver never holds a row of
    it — on a high-cardinality group key the old driver-dict sink
    grew without bound (VERDICT r02 #3). The estimate at any moment
    comes from ``sketches.hll_estimate`` over the table — identical
    math to the batch path, so stream and batch agree exactly on the
    same data (pinned in tests).

    The exactly-once story matches the reference's watermark contract
    (SURVEY §2.9): merging registers is idempotent, so at-least-once
    replay of a micro-batch cannot change the state. (On a real lake
    this merge is one ``MERGE INTO`` on (group, register); plain
    parquet lacks row-level merge, so each batch rewrites the — by
    construction tiny — table.)

    State durability (ADVICE r3): the register table is EPOCH-
    VERSIONED — each batch writes a fresh ``v=<epoch>`` subdirectory
    and only then prunes, always retaining the two newest versions.
    Prior state is the newest ``_SUCCESS``-marked version with epoch
    STRICTLY BELOW the current batch, so a replayed micro-batch
    rebuilds its version from the same input deterministically and a
    crash at any point leaves a complete readable version on disk —
    no delete-then-write window, no dependence on non-reliable
    ``localCheckpoint`` storage. Existence checks go through the
    Hadoop FileSystem API, so the state dir can live on any
    supported URI (``hdfs://``, ``s3a://``), not just the local FS.
    Read the serving state with ``hll_state_table``.
    """
    from kissmetrics_to_database_spark.operators import sketches

    stream = (
        spark.readStream.schema(schema)
        .json(src_dir)
    )
    regs = sketches.hll_registers(stream, group_col, value_col, b)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = batch_df.select(group_col, "register", "mrho")
        _check_epoch_regression(sess, table_dir, epoch_id)
        prior = _latest_state_version(sess, table_dir, below=epoch_id)
        if prior is not None:
            merged = merged.unionByName(sess.read.parquet(prior))
        merged = merged.groupBy(group_col, "register").agg(
            F.max("mrho").alias("mrho")
        )
        # new version dir: never overwrites what it reads
        merged.write.mode("overwrite").parquet(
            f"{table_dir.rstrip('/')}/v={epoch_id}"
        )
        _prune_state_versions(sess, table_dir, keep=2)

    return (
        regs.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge)
        .start()
    )


def _check_epoch_regression(
    spark: SparkSession, table_dir: str, epoch_id: int
) -> None:
    """Epoch-regression guard shared by every epoch-versioned state
    sink (HLL / SCD2 / gram-index).

    Raise iff a version with epoch STRICTLY GREATER than this batch's
    exists: a fresh checkpoint dir restarts epoch ids at 0 while a
    reused state dir still holds higher-epoch versions — silently
    starting over would discard accumulated state (and, per ADVICE
    r7, silently skipping drops data). A version EQUAL to
    ``epoch_id`` is NOT a regression: it is this very batch's own
    output from a crash-replay (the epoch's ``v=<epoch>`` dir got its
    ``_SUCCESS`` but the checkpoint commit didn't land) — the replay
    must proceed and idempotently overwrite it, or the stream wedges
    forever on its first batch."""
    stale = [
        e for e, _ in _state_versions(spark, table_dir) if e > epoch_id
    ]
    if stale:
        raise RuntimeError(
            f"epoch regression: batch epoch {epoch_id} but state dir "
            f"{table_dir} already holds later epochs {stale} — the "
            "checkpoint dir was reset without clearing the state dir "
            "(they must be cleared together)"
        )


def _state_versions(
    spark: SparkSession, table_dir: str
) -> list[tuple[int, object]]:
    """Complete (``_SUCCESS``-marked) ``v=<epoch>`` state versions
    under ``table_dir``, ascending by epoch, via the Hadoop
    FileSystem API (URI-scheme agnostic — ADVICE r3)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                epoch = int(name[2:])
            except ValueError:
                continue
            marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(marker):
                out.append((epoch, st.getPath()))
    out.sort(key=lambda t: t[0])
    return out


def _latest_state_version(
    spark: SparkSession, table_dir: str, below: int | None = None
) -> str | None:
    """Path of the newest complete state version (optionally with
    epoch strictly below ``below`` — the replay-safe prior for that
    batch), or None when no state exists yet."""
    versions = _state_versions(spark, table_dir)
    if below is not None:
        versions = [(e, p) for e, p in versions if e < below]
    return versions[-1][1].toString() if versions else None


def _prune_state_versions(
    spark: SparkSession, table_dir: str, keep: int = 2
) -> None:
    """Delete all but the ``keep`` newest complete versions.  Keeping
    two generations guarantees a replayed batch still finds the prior
    version it was originally built from."""
    versions = _state_versions(spark, table_dir)
    if len(versions) <= keep:
        return
    fs = versions[0][1].getFileSystem(spark._jsc.hadoopConfiguration())
    for _, path in versions[:-keep]:
        fs.delete(path, True)


def hll_state_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The current serving state of a ``stream_hll_distinct`` register
    table: the newest complete epoch version."""
    latest = _latest_state_version(spark, table_dir)
    if latest is None:
        raise FileNotFoundError(f"no complete HLL state under {table_dir}")
    return spark.read.parquet(latest)


def scd2_apply_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    table_dir: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
) -> None:
    """Apply one micro-batch of attribute observations to an
    epoch-versioned SCD2 dimension (the foreachBatch body of
    ``stream_scd2_dimension``, module-level so replay is testable).

    IDEMPOTENT under micro-batch replay by construction: the prior is
    the newest complete version with epoch STRICTLY BELOW this batch
    (same contract as the HLL state sink), the merge itself is
    deterministic (batch-side property tests pin merge idempotence),
    and the output overwrites this epoch's own ``v=<epoch>`` dir — so
    re-running an epoch rebuilds the identical version from the
    identical inputs. Epoch regression (fresh checkpoint dir over a
    stale table_dir) raises instead of silently restarting history.
    """
    from kissmetrics_to_database_spark.operators import scd

    sess = batch_df.sparkSession
    # one row per entity: the LATEST observation wins (deterministic
    # even on ts ties — attr breaks them inside the struct max)
    latest = (
        batch_df.groupBy(key_col)
        .agg(
            F.max(F.struct(ts_col, attr_col)).alias("_m")
        )
        .select(
            key_col,
            F.col(f"_m.{attr_col}").alias(attr_col),
            F.col(f"_m.{ts_col}").alias(ts_col),
        )
    )
    _check_epoch_regression(sess, table_dir, epoch_id)
    prior = _latest_state_version(sess, table_dir, below=epoch_id)
    if prior is None:
        ts_type = batch_df.schema[ts_col].dataType
        dim = sess.createDataFrame(
            [],
            T.StructType(
                [
                    batch_df.schema[key_col],
                    batch_df.schema[attr_col],
                    T.StructField("valid_from", ts_type),
                    T.StructField("valid_to", ts_type),
                    T.StructField("version", T.LongType()),
                    T.StructField("is_current", T.BooleanType()),
                ]
            ),
        )
    else:
        dim = sess.read.parquet(prior)
    merged = scd.scd2_merge_batch(dim, latest, key_col, attr_col, ts_col)
    merged.write.mode("overwrite").parquet(
        f"{table_dir.rstrip('/')}/v={epoch_id}"
    )
    _prune_state_versions(sess, table_dir, keep=2)


def stream_scd2_dimension(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    table_dir: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
) -> StreamingQuery:
    """Streaming SCD2 dimension maintenance (VERDICT r4 item 5): a
    file-source stream of attribute observations, folded per
    micro-batch into an epoch-versioned SCD2 dimension via
    ``operators/scd.scd2_merge_batch`` — the reference's actual
    production shape (incremental warehouse maintenance,
    src/KissmetricsToDatabase.php's per-file update loop) composed
    from two already-proven pieces: the batch SCD2 merge and the
    HLL sink's epoch-versioned durable state.

    Read the serving dimension with ``scd2_state_table``. At scale
    the parquet rewrite becomes a MERGE INTO on a table format with
    row-level merge (Delta/Iceberg); the epoch-versioning contract —
    prior strictly below, rebuildable replay, two retained versions —
    is exactly what those formats' snapshot isolation provides.
    """
    stream = spark.readStream.schema(schema).json(src_dir)
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, eid: scd2_apply_epoch(
                df, eid, table_dir, key_col, attr_col, ts_col
            )
        )
        .start()
    )


def scd2_state_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The serving SCD2 dimension: newest complete epoch version."""
    latest = _latest_state_version(spark, table_dir)
    if latest is None:
        raise FileNotFoundError(f"no complete SCD2 state under {table_dir}")
    return spark.read.parquet(latest)


def stream_ingest_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    corpus: DataFrame,
    sink: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous-ingestion dedup: a file-source stream of arriving
    documents, classified per micro-batch against a STATIC corpus
    index as exact_dup / near_dup / new.

    The index (fingerprint set + MinHash LSH band keys,
    ``dedup.corpus_ingest_index``) is built once and persisted; each
    micro-batch runs ``dedup.ingest_verdicts`` inside foreachBatch —
    the very same function the batch catalog query uses, so stream
    and batch verdicts cannot drift (pinned in tests). The probes are
    micro-batch-sized equi-joins against the cached index; history is
    never rescanned, which is what makes this viable when the corpus
    is 100 TB and the stream is a firehose. The checkpoint carries
    the processed-file index, so each arriving file is classified
    exactly once; at-least-once replay of a batch is harmless because
    verdicts are a pure function of (batch, index).

    In production the admit-loop would append admitted docs' keys
    back to the index tables between batches; here the index is
    frozen, which matches the oracle-checked batch query semantics.
    """
    from kissmetrics_to_database_spark.operators import dedup

    fp_index, band_index = dedup.corpus_ingest_index(
        corpus, id_col, text_col
    )
    fp_index = fp_index.persist()
    band_index = band_index.persist()

    def _classify(batch_df: DataFrame, epoch_id: int) -> None:
        sink(
            dedup.ingest_verdicts(
                batch_df, fp_index, band_index, id_col, text_col
            ),
            epoch_id,
        )

    stream = spark.readStream.schema(schema).json(source_dir)
    return (
        stream.writeStream.foreachBatch(_classify)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Per-user session windows (gap-merged) with an event-time
    watermark — one definition for both engines' modes: on a static
    frame it is the catalog's sessionization shape; on a stream the
    watermark bounds session state and finalizes a session once no
    event can extend it (event time, not wall clock, exactly the
    semantics the batch reference loop approximates by file order).

    State per key lives only until watermark > session end + gap, so
    steady-state memory is rate × (gap + lateness), not history. A
    finalized session emits exactly once (append mode) — the
    micro-batch that closes it; replays cannot re-emit it because the
    checkpoint carries the watermark.
    """
    return (
        events.withWatermark(ts_col, late_threshold)
        .groupBy("user_id", F.session_window(ts_col, gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def bootstrap_exact_substring_index(
    history: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> None:
    """Write the history corpus's gram index as epoch version ``v=-1``
    (strictly below every micro-batch epoch, so batch 0's replay-safe
    prior). Call once before :func:`stream_exact_substring_ingest`."""
    from kissmetrics_to_database_spark.operators import dedup

    dedup.exact_substring_gram_index(
        history, id_col, text_col, k
    ).write.mode("overwrite").parquet(f"{index_dir.rstrip('/')}/v=-1")


def stream_exact_substring_ingest(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    index_dir: str,
    sink: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming exact-substring dedup with an ACCUMULATING gram
    index: each arriving micro-batch is probed against the epoch-
    versioned index (history + every earlier batch — so a later batch
    duplicating an EARLIER BATCH's run is caught, which the
    frozen-index ``stream_ingest_dedup`` shape cannot do), its
    duplicated-run spans go to the sink, and the batch's own grams
    append as the batch's index version.

    Replay safety is the proven epoch contract (HLL / SCD2 sinks):
    the prior is the newest version STRICTLY below the batch epoch,
    each version is written whole to its own ``v=<epoch>`` dir, two
    generations are retained, and a reset checkpoint over a stale
    index dir raises instead of silently rewinding. With arriving
    doc ids above history's, the stream's union of span outputs
    equals the one-shot batch ``exact_substring_ingest_spans`` over
    all arrived docs (pinned in tests). At scale the union+distinct
    index append becomes a MERGE INTO on a row-level-merge table
    format, same as the SCD2 note.
    """
    from kissmetrics_to_database_spark.operators import dedup

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        _check_epoch_regression(sess, index_dir, epoch_id)
        prior = _latest_state_version(sess, index_dir, below=epoch_id)
        if prior is None:
            # a bare v=<epoch_id> (this batch's own crash-replay
            # output) is NOT a prior — bootstrap's v=-1 is required
            raise RuntimeError(
                f"no index version below epoch {epoch_id} under "
                f"{index_dir} — run bootstrap_exact_substring_index "
                "first (and clear this dir together with the "
                "checkpoint dir on reset)"
            )
        idx = sess.read.parquet(prior)
        batch_df = batch_df.persist()
        try:
            sink(
                dedup.exact_substring_spans_vs_index(
                    idx, batch_df, id_col, text_col, k
                ),
                epoch_id,
            )
            (
                idx.unionByName(
                    dedup.exact_substring_gram_index(
                        batch_df, id_col, text_col, k
                    )
                )
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{index_dir.rstrip('/')}/v={epoch_id}")
            )
            _prune_state_versions(sess, index_dir, keep=2)
        finally:
            batch_df.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(source_dir)
    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def tablelog_exactly_once_sink(
    table_path: str, mode: str = "append"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink committing each micro-batch into the
    manifest-log table format (r8, `sources/tablelog`): the batch's
    rows and its epoch-ledger entry become visible in ONE atomic
    manifest rename, so a crash-replayed epoch is a no-op, a reset
    checkpoint over a stale table raises, and concurrent readers keep
    snapshot-consistent views throughout — the table-format upgrade
    of the epoch-partitioned parquet lake append."""
    from kissmetrics_to_database_spark.sources import tablelog

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        tablelog.write_table(
            batch_df, table_path, mode=mode, epoch_id=int(epoch_id)
        )

    return sink


def delta_exactly_once_sink(
    table_path: str,
    app_id: str,
    partition_columns: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink committing each micro-batch as a DELTA
    commit (r11): ``write_delta`` records the epoch in the protocol's
    own SetTransaction action, so a crash-replayed epoch is an
    idempotent no-op AND foreign engines (or our ``CommitTailer``)
    see standard Delta exactly-once bytes. Streams land in a table
    any Delta reader can tail — the lakehouse upgrade of
    :func:`tablelog_exactly_once_sink`."""
    from kissmetrics_to_database_spark.sources import deltalog

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        deltalog.write_delta(
            batch_df,
            table_path,
            partition_columns=partition_columns,
            txn_app_id=app_id,
            epoch_id=int(epoch_id),
        )

    return sink


def iceberg_exactly_once_sink(
    table_path: str, app_id: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink committing each micro-batch as an ICEBERG v2
    snapshot (r11): ``write_iceberg`` records the epoch in the
    snapshot summary (the Flink-connector idempotency pattern), so a
    crash-replayed epoch is skipped and the table stays consumable by
    any Iceberg reader. Completes exactly-once streaming landings for
    all three table formats."""
    from kissmetrics_to_database_spark.sources import iceberg

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        iceberg.write_iceberg(
            batch_df,
            table_path,
            txn_app_id=app_id,
            epoch_id=int(epoch_id),
        )

    return sink
