"""r14 phase profiler: time the internal phases of the lakehouse
writer roundtrips (and any query) inside a bench-identical session.

Mirrors bench.py's environment exactly (get_spark, cache_tables
warm-up) and, instead of timing the whole query, wraps the engine
calls it makes with per-phase wall timers plus the Spark status
tracker's job counter — the evidence needed to decide WHERE a
multi-commit roundtrip spends its seconds (guide §1: measure first).

Run:  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      python tools/phase_profile_r14.py hudi_mor
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from kissmetrics_to_database_spark.session import (  # noqa: E402
    cache_tables,
    get_spark,
    load_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class PhaseTimer:
    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.last = self.t0
        self.tracker = spark.sparkContext.statusTracker()
        self.last_jobs = len(self.tracker.getJobIdsForGroup() or [])

    def _n_jobs(self):
        # job ids are global for the default group; use the max id
        ids = self.tracker.getJobIdsForGroup()
        return max(ids) + 1 if ids else 0

    def mark(self, label):
        now = time.perf_counter()
        jobs = self._n_jobs()
        print(
            f"  {label:42s} {now - self.last:7.3f}s  "
            f"jobs+={jobs - self.last_jobs}",
            flush=True,
        )
        self.last = now
        self.last_jobs = jobs

    def total(self):
        print(f"  TOTAL {time.perf_counter() - self.t0:.3f}s", flush=True)


def profile_hudi_mor(spark):
    import shutil
    import tempfile

    from kissmetrics_to_database_spark.sources import hudi

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "lang"
    )
    root = tempfile.mkdtemp(prefix="kmdb_prof_morw_")
    path = root + "/docs_morw"
    t = PhaseTimer(spark)
    hudi.write_hudi(
        docs, path, key_col="doc_id", partition_col="lang",
        n_buckets=4, table_type="MERGE_ON_READ",
    )
    t.mark("write_hudi bulk insert")
    src = (
        docs.where(F.col("doc_id") % 4 == 1)
        .withColumn("source", F.lit("logged"))
        .unionByName(
            spark.createDataFrame(
                [(-1, "logged", "xx")],
                "doc_id long, source string, lang string",
            )
        )
    )
    hudi.upsert_hudi(spark, path, src)
    t.mark("upsert #1 (logged)")
    hudi.delete_hudi(spark, path, "doc_id % 6 = 2")
    t.mark("delete tombstones")
    hudi.compact_hudi(spark, path)
    t.mark("compact")
    hudi.upsert_hudi(
        spark, path,
        docs.where(F.col("doc_id") % 9 == 4).withColumn(
            "source", F.lit("postcompact")
        ),
    )
    t.mark("upsert #2 (postcompact)")
    (
        hudi.read_hudi(spark, path)
        .groupBy(
            F.when(
                F.col("source").isin("logged", "postcompact"),
                F.col("source"),
            ).otherwise("base").alias("phase")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("phase")
        .write.format("noop").mode("overwrite").save()
    )
    t.mark("final MoR read + agg")
    t.total()
    shutil.rmtree(root, ignore_errors=True)


def profile_delta_dml_dv_mapped(spark):
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from kissmetrics_to_database_spark.sources import deltalog as dl

    pdf = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "lang")
        .toPandas()
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    t = PhaseTimer(spark)
    dv_root = tempfile.mkdtemp(prefix="kmdb_prof_dml_dv_")
    dv_path = dv_root + "/docs_dv"
    w = dl.DeltaFixtureWriter(dv_path, schema, deletion_vectors=True)
    [rel] = w.commit(pdf.reset_index(drop=True))
    pos = [int(i) for i, d in enumerate(pdf.doc_id) if d % 5 == 0]
    if pos:
        w.dv_delete(rel, pos)
    t.mark("fixture (a): writer + dv_delete")
    dl.delete_delta(spark, dv_path, "doc_id % 3 = 0")
    t.mark("delete_delta on DV table")
    dl.read_delta(spark, dv_path).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    ).write.format("noop").mode("overwrite").save()
    t.mark("read-back (a)")
    cm_root = tempfile.mkdtemp(prefix="kmdb_prof_dml_cm_")
    cm_path = cm_root + "/docs_cm"
    w2 = dl.DeltaFixtureWriter(
        cm_path, schema, partition_columns=["lang"],
        column_mapping_mode="name",
    )
    w2.commit(pdf)
    t.mark("fixture (b): column-mapped writer")
    dl.update_delta(
        spark, cm_path, {"source": "'touched'"}, "doc_id % 4 = 2"
    )
    t.mark("update_delta on mapped table")
    dl.read_delta(spark, cm_path).where(
        F.col("source") == "touched"
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    ).write.format("noop").mode("overwrite").save()
    t.mark("read-back (b)")
    t.total()
    shutil.rmtree(dv_root, ignore_errors=True)
    shutil.rmtree(cm_root, ignore_errors=True)


def profile_delta_dv_native(spark):
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from kissmetrics_to_database_spark.sources import deltalog as dl

    pdf = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "lang")
        .toPandas()
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    t = PhaseTimer(spark)
    root = tempfile.mkdtemp(prefix="kmdb_prof_dvn_")
    path = root + "/docs_dvn"
    w = dl.DeltaFixtureWriter(path, schema, deletion_vectors=True)
    half = len(pdf) // 2
    w.commit(pdf.iloc[:half].reset_index(drop=True))
    w.commit(pdf.iloc[half:].reset_index(drop=True))
    t.mark("fixture: two commits")
    dl.delete_delta(spark, path, "doc_id % 3 = 0", use_dvs=True)
    t.mark("DV delete #1")
    dl.delete_delta(spark, path, "doc_id % 7 = 0", use_dvs=True)
    t.mark("DV delete #2")
    dl.read_delta(spark, path).groupBy("lang").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    ).orderBy("lang").write.format("noop").mode("overwrite").save()
    t.mark("read-back")
    t.total()
    shutil.rmtree(root, ignore_errors=True)


def profile_merge_dup(spark):
    """delta_merge_dup_key_targets phases."""
    import importlib

    from kissmetrics_to_database_spark.plans import catalog

    fn = catalog.QUERIES["delta_merge_dup_key_targets"]
    t = PhaseTimer(spark)
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    t.mark("whole query")
    t.total()


PROFILES = {
    "hudi_mor": profile_hudi_mor,
    "delta_dml": profile_delta_dml_dv_mapped,
    "delta_dvn": profile_delta_dv_native,
    "merge_dup": profile_merge_dup,
}


def main():
    names = sys.argv[1:] or list(PROFILES)
    spark = get_spark("phase-profile-r14")
    from kissmetrics_to_database_spark.plans import catalog

    catalog.QUERIES["count_tables"](spark, SF_DIR).collect()
    cache_tables(spark, SF_DIR)
    for name in names:
        for rep in range(2):
            print(f"== {name} (rep {rep}) ==", flush=True)
            PROFILES[name](spark)
    spark.stop()


if __name__ == "__main__":
    main()
