"""Session tests: the warm table cache (session.cache_tables) and the
generated-code cache size."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
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


def test_codegen_cache_holds_more_than_100_classes(spark, compiles):
    # each plan inlines its own long literal, so each compiles its own
    # class; the first must still be cached after 150 others
    plans = [spark.range(4).select(F.col("id") * F.lit(i)) for i in range(150)]
    for df in plans:
        df.collect()
    before = compiles()
    assert plans[0].collect() == [(0,)] * 4
    assert compiles() == before
