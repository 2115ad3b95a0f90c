"""SparkSession factory + testdata loaders.

Configuration notes (scale-first):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching. On a 1000-executor
  cluster these are the difference between a tuned plan and a stalled
  one; in a local session they coalesce a tiny run's shuffles down to
  a few partitions.
- ``spark.sql.shuffle.partitions`` defaults to the local core count
  here; on a real cluster set it to 2-3x total executor cores (AQE
  coalesces down, it never splits up a too-small setting).
- Session timezone pinned to UTC: the reference formats epoch
  timestamps with the process TZ (KissmetricsToDatabase.php:289-291);
  we declare UTC so results are reproducible and oracle-comparable.
- Generated-code cache sized to the read path's working set. Spark
  caches each whole-stage class it compiles, keyed by its source, in a
  process-wide cache of 100 entries by default. One pass over the 16
  benchmarked catalog queries generates about 360 classes, so at the
  default every pass evicted and recompiled them all (about 390 Janino
  compiles per pass). A long-lived session serving repeated queries
  should compile each class once.
- PySpark's DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). When on,
  every ``F.col`` and classic ``Column`` method call records its
  Python call site in the JVM: two ``getActiveSession`` calls, a
  ``conf.get``, a class lookup and a set/clear of
  ``PySparkCurrentOrigin``: about ten py4j round trips on top of the
  call's own one to three, plus a walk of the Python stack. That was
  about two thirds of the ~2,800 round trips an ingest batch made.
  What it gives up: an error's query context no longer names the
  Python ``file:line`` that built the failing expression; Spark's
  error condition and message stay.
  PySpark reads the key once per Python process, at the first wrapped
  call made with an active session.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

# Dimension tables small enough to always broadcast at any SF
# (region=5 rows, nation=25 rows at every scale factor).
BROADCAST_TABLES = frozenset({"region", "nation"})


def get_spark(
    app_name: str = "kissmetrics_to_database_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local test/bench default is ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster pass ``master=None`` with a cluster-provided session config
    and only the SQL confs below apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Defense in depth (ADVICE r02): direct spark.read.parquet
        # calls (compaction paths) on a fresh session must see the
        # same timestamp semantics load_table pins — naive parquet
        # timestamps read as TimestampType UTC instants, never
        # TIMESTAMP_NTZ, and nanos columns as raw longs.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # About 2.8x the ~360 classes one pass over the 16 benchmarked
        # catalog queries generates (measured with CodegenMetrics), so
        # a pass compiles only what is new to it. A static conf: only
        # the first session of the process sets it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Each Column call otherwise costs about ten more py4j round
        # trips and a Python stack walk to record its call site; errors
        # lose the Python file:line of the failing expression, not
        # their condition or message (see the module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Local-mode driver heap: Spark's 1g default eventually OOMs a
        # long-lived session (the full test suite accumulates ~1.5k
        # stages of cached/checkpointed blocks before the 2M-edge CC
        # test — r6). Applied at JVM launch only, so it must be set by
        # the FIRST session of the process; harmless no-op afterwards
        # and on real clusters, where the deploy sets it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Warm-cache registry (see cache_tables). Keyed by the Spark
# application id — stable for a session's lifetime and never reused
# by a replacement session (unlike id(spark), which CPython can
# recycle after GC — ADVICE r01 #4). _session_key also evicts entries
# of stopped sessions so cached plans don't pin dead JVMs for process
# lifetime.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
# Rows cached so far per application id: the shuffle width follows
# the whole warm cache, not just the tables one call added.
_CACHED_ROWS: dict[str, int] = {}


def _session_key(spark: SparkSession) -> str:
    app_id = spark.sparkContext.applicationId
    stale = [k for k in _TABLE_CACHE if k[0] != app_id]
    for k in stale:
        _TABLE_CACHE.pop(k, None)
    for k in [k for k in _CACHED_ROWS if k != app_id]:
        _CACHED_ROWS.pop(k)
    return app_id


def cache_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
) -> None:
    """Materialize the testdata tables as an in-memory columnar cache;
    subsequent ``load_table`` calls serve from it.

    Why: the driver's testdata is one parquet file with ONE row group
    per table, and a row group is Spark's minimum split unit, so every
    cold scan runs as a single task however large the table. The cache
    stands in for the layout a lake of many files would have, then
    serves every query (warm-cache warehouse benchmarking: the bench
    harnesses call this in their warm-up phase; correctness runs never
    do).

    Partitioning: each table gets the partition count Spark's own file
    planner would give its parquet bytes if row groups could split
    (``FilePartition.maxSplitBytes``, from the session's
    ``spark.sql.files.*`` confs). A table that fits one split is cached
    as ``coalesce(1)``: its scan then reports ``SinglePartition``,
    which satisfies every required distribution but broadcast, so a
    group-by, window, sort or join over such tables plans no exchange.
    On tiny tables the cost of a query is per job, not per row, and
    each exchange costs a job (under AQE) or a range-sampling job
    (before an ``ORDER BY``). Larger tables are spread round-robin over
    their split count.

    A single-partition cache serializes map-heavy kernels: a single-
    partition ``documents`` cache at sf0.1 slowed the shingling and
    PassJoin kernels on 32 cores. Those are curation kernels; no
    registered benchmark workload runs them, and ROADMAP item 8
    retires them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    app_id = _session_key(spark)
    added_rows = 0
    for t in tables:
        key = (app_id, sf_dir, t)
        if key in _TABLE_CACHE:
            continue
        path = os.path.join(sf_dir, f"{t}.parquet")
        added_rows += pq.read_metadata(path).num_rows
        df = load_table(spark, sf_dir, t)
        parts = _file_splits(spark, os.path.getsize(path))
        df = df.coalesce(1) if parts == 1 else df.repartition(parts)
        df = df.persist()
        df.count()
        _TABLE_CACHE[key] = df
    if added_rows:
        total_rows = _CACHED_ROWS.get(app_id, 0) + added_rows
        _CACHED_ROWS[app_id] = total_rows
        # Scale-adaptive shuffle width (r14, guide §2.2/§5): under AQE
        # every exchange PLANS this many partitions and coalesces down
        # by observed bytes, so per-task hash/sort state shrinks as the
        # data grows instead of being fixed by the core-count constant.
        # Derived from the row total of every table this session has
        # cached, so a later call that adds one small table keeps the
        # width the warm cache needs — at sf0.1 (~1.5M rows)
        # this stays at the core count (bench numbers comparable with
        # prior rounds); at sf1.0 (~8.7M rows) exchanges start ~5×
        # wider, which is what stopped edit_distance_pairs' shuffled-
        # hash build from exhausting the 8 GB local JVM's execution
        # memory (SparkOutOfMemoryError at the r14 sf1 pair). A flat
        # 4×cores initial width was measured 2-3× SLOWER across the
        # sf0.1 suite (map-side overhead on every tiny exchange), so
        # the knob must be data-derived, never a constant. Clamped to
        # 8× cores; correctness runs never call cache_tables and keep
        # Spark's plain spark.sql.shuffle.partitions.
        ipn = min(8 * cpus, max(cpus, total_rows // 50_000))
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(ipn),
        )


def _file_splits(spark: SparkSession, nbytes: int) -> int:
    """The partitions Spark's file planner cuts one file of ``nbytes``
    into when it can split anywhere: ``FilePartition.maxSplitBytes``,
    read from the session's ``spark.sql.files.*`` confs."""
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    parallelism = spark._jsparkSession.leafNodeDefaultParallelism()
    per_core = (nbytes + open_cost) // parallelism
    max_split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    return max(1, -(-nbytes // max_split))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    Serves from the warm cache when :func:`cache_tables` has been
    called for this (session, sf_dir) — otherwise a cold read.

    SIDE EFFECT (ADVICE r3): every call — cache hit or cold —
    re-pins ``spark.sql.session.timeZone`` to UTC on the caller's
    session.  Catalog results are defined in UTC (FIXTURES.md) and
    timestamp FORMATTING reads the live session timezone, so serving
    under a caller-set zone would silently change rendered results.
    Callers that need a different zone for their own queries must set
    it after their last ``load_table`` call.

    The driver's parquet uses nanosecond timestamps (pandas default),
    which Spark's vectorized reader rejects. We read them as raw
    nanos longs (``nanosAsLong``) and cast back to (microsecond)
    timestamps — lossless for this data and identical to what DuckDB
    sees. Footer inspection is driver-side pyarrow (cheap, metadata
    only).
    """
    if _TABLE_CACHE:  # skip the JVM applicationId call on the cold path
        cached = _TABLE_CACHE.get((_session_key(spark), sf_dir, name))
        if cached is not None:
            # The cached plan was built under pinned confs, but result
            # FORMATTING still reads the live session timezone — a
            # hostile session flipping spark.sql.session.timeZone after
            # cache_tables() would render cached-table timestamps in
            # its own tz (ADVICE r02). Re-pin on every serve; a conf
            # set is driver-side and cheap.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Defensive: queries may run under a caller-provided session
    # (the driver's). Pin the two confs correctness depends on —
    # UTC formatting and nanos-parquet reads — at the one choke
    # point every query passes through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive (isAdjustedToUTC=false) parquet timestamps must read as
    # plain TimestampType UTC instants — the same interpretation
    # DuckDB's naive TIMESTAMP uses — not TIMESTAMP_NTZ, which Spark 4
    # infers by default and which rejects casts to numeric epoch.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for field in _nanos_columns(path):
        # integer division: `/` would round-trip the nanos long
        # through a double, whose 256 ns ulp at epoch magnitude
        # corrupts the microsecond value on ~12% of rows
        df = df.withColumn(
            field,
            F.timestamp_micros(F.expr(f"`{field}` div 1000")),
        )
    return df


def _nanos_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns in a parquet file's footer."""
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table into a dict keyed by table name."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
