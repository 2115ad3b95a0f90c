"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``kissmetrics_to_database_spark``; this file
is the thin adapter the driver imports.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The end-to-end Kissmetrics pipeline restated in Spark: event scan →
    per-row transform (sanitize / _n null-out / epoch format /
    fingerprint / load date) → identity connected components →
    canonical-identity rollup.
    """
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import identity
    from kissmetrics_to_database_spark.plans import catalog
    from kissmetrics_to_database_spark.session import load_table

    sf_dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_p", F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    comp = identity.connected_components(catalog._alias_edges(spark, sf_dir))
    resolved = identity.resolve_events(ev, identity.canonical_map(comp), "_p")
    return (
        resolved.groupBy("canonical")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("canonical")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from kissmetrics_to_database_spark.plans import catalog

    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted ⇒ rows-only check)."""
    from kissmetrics_to_database_spark.plans import catalog

    return dict(catalog.ORACLES)
