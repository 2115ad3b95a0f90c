"""Session tests: the warm table cache (session.cache_tables), the
generated-code cache size and PySpark's DataFrame debugging switch."""

from __future__ import annotations

import contextlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as pyspark_errors_utils
from pyspark.sql import functions as F

from kissmetrics_to_database_spark import session

IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_cache_tables_width_follows_the_whole_cache(spark, tmp_path, monkeypatch):
    # a later call that caches one small table must not shrink the
    # shuffle width the earlier, larger tables set
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    pq.write_table(pa.table({"k": list(range(150_000))}), tmp_path / "big.parquet")
    pq.write_table(pa.table({"k": list(range(10))}), tmp_path / "small.parquet")
    sf_dir = str(tmp_path)
    before = spark.conf.get(IPN, None)
    app_id = spark.sparkContext.applicationId
    rows_before = session._CACHED_ROWS.get(app_id, 0)
    try:
        session.cache_tables(spark, sf_dir, ("big",))
        first = int(spark.conf.get(IPN))
        session.cache_tables(spark, sf_dir, ("small",))
        assert int(spark.conf.get(IPN)) == first
        assert first == min(8, (rows_before + 150_000) // 50_000) >= 3
    finally:
        for t in ("big", "small"):
            cached = session._TABLE_CACHE.pop((app_id, sf_dir, t), None)
            if cached is not None:
                cached.unpersist()
        session._CACHED_ROWS[app_id] = rows_before
        if before is None:
            spark.conf.unset(IPN)
        else:
            spark.conf.set(IPN, before)


@contextlib.contextmanager
def _cached(spark, sf_dir, *tables):
    """``session.cache_tables`` for ``tables``, dropped again on exit
    with the row total and shuffle width they set."""
    app_id = spark.sparkContext.applicationId
    rows_before = session._CACHED_ROWS.get(app_id, 0)
    ipn_before = spark.conf.get(IPN, None)
    try:
        session.cache_tables(spark, sf_dir, tables)
        yield {t: session.load_table(spark, sf_dir, t) for t in tables}
    finally:
        for t in tables:
            cached = session._TABLE_CACHE.pop((app_id, sf_dir, t), None)
            if cached is not None:
                cached.unpersist()
        session._CACHED_ROWS[app_id] = rows_before
        if ipn_before is None:
            spark.conf.unset(IPN)
        else:
            spark.conf.set(IPN, ipn_before)


def _jobs_and_plan(spark, df, group):
    """Run ``df`` under job group ``group``: its rows, the number of
    Spark jobs it ran and its executed plan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "session test")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, jobs, df._jdf.queryExecution().executedPlan().toString()


def test_small_cached_table_plans_no_exchange(spark, tmp_path):
    # a table that fits one file split is cached as one partition that
    # reports SinglePartition, so an aggregate, a global sort and a
    # sort-merge self-join over it need no exchange: each query is one job
    pq.write_table(
        pa.table({"k": [i % 100 for i in range(2000)], "v": list(range(2000))}),
        tmp_path / "small.parquet",
    )
    with _cached(spark, str(tmp_path), "small") as t:
        small = t["small"]
        assert small.rdd.getNumPartitions() == 1
        agg = small.groupBy("k").agg(F.sum("v").alias("s")).orderBy("k")
        rows, jobs, plan = _jobs_and_plan(spark, agg, f"agg-{tmp_path.name}")
        assert [r["k"] for r in rows] == list(range(100))
        assert rows[0]["s"] == sum(range(0, 2000, 100))
        assert "Exchange" not in plan, plan
        assert jobs == 1
        a, b = small.alias("a"), small.alias("b").hint("merge")
        join = a.join(b, F.col("a.k") == F.col("b.k")).select("a.v", F.col("b.v").alias("w"))
        rows, jobs, plan = _jobs_and_plan(spark, join, f"join-{tmp_path.name}")
        assert len(rows) == 2000 * 20
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        assert jobs == 1


def test_table_larger_than_a_file_split_is_cached_over_several_partitions(
    spark, tmp_path
):
    # the split size is Spark's own file-planning rule, so a lower
    # spark.sql.files.maxPartitionBytes cuts the same table finer
    pq.write_table(pa.table({"k": list(range(100_000))}), tmp_path / "big.parquet")
    nbytes = (tmp_path / "big.parquet").stat().st_size
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(-(-nbytes // 4)))  # four splits
    try:
        with _cached(spark, str(tmp_path), "big") as t:
            assert t["big"].rdd.getNumPartitions() == 4
            assert t["big"].count() == 100_000
    finally:
        spark.conf.set(key, before)


def test_local_connected_components_result_is_one_partition(spark):
    from kissmetrics_to_database_spark.operators import identity

    stats = {}
    edges = spark.createDataFrame([("a", "b"), ("c", "d"), ("b", "e")], ["src", "dst"])
    comp = identity.connected_components(edges, stats=stats)
    assert stats["path"] == "local"
    assert comp.rdd.getNumPartitions() == 1
    assert dict(comp.collect()) == {"a": "a", "b": "a", "e": "a", "c": "c", "d": "c"}


def test_codegen_cache_holds_more_than_100_classes(spark, compiles):
    # each plan inlines its own long literal, so each compiles its own
    # class; the first must still be cached after 150 others
    plans = [spark.range(4).select(F.col("id") * F.lit(i)) for i in range(150)]
    for df in plans:
        df.collect()
    before = compiles()
    assert plans[0].collect() == [(0,)] * 4
    assert compiles() == before


def test_dataframe_debugging_is_off_and_errors_keep_their_condition(spark, monkeypatch):
    # PySpark reads the setting once per process; make it read again
    monkeypatch.setattr(pyspark_errors_utils, "_enable_debugging_cache", None)
    assert pyspark_errors_utils.is_debugging_enabled() is False
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("missing")
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
