"""kissmetrics_to_database_spark — a PySpark-native analytics engine.

A from-scratch Spark implementation of the data semantics of the
reference tool ``jlcd/kissmetrics-to-database`` (a PHP S3→Redshift
event loader), re-expressed as declarative DataFrame/SQL plans that
Catalyst/Tungsten can optimize, plus the large-scale training-data
operators (dedup) a 100 TB pipeline needs.

Design stance (SURVEY.md §7.1):
- every transform is a pure ``DataFrame -> DataFrame`` function so the
  same code runs under ``spark.read`` (batch) and ``foreachBatch``
  (streaming);
- built-in ``pyspark.sql.functions`` everywhere; Pandas UDFs only where
  built-ins cannot express the semantics;
- determinism declared up front (UTC, min-id tie-breaks, explicit
  sorts) so every operator is oracle-comparable.
"""

from kissmetrics_to_database_spark.session import get_spark, load_table, load_tables

__all__ = ["get_spark", "load_table", "load_tables"]
__version__ = "0.1.0"
