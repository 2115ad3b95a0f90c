"""Distributed Avro data-file scan on the from-spec codec.

Avro is the row format of the Kafka/Hadoop interchange world (and of
Iceberg manifests — `functions/avroc.py` exists for those); this
source makes ``.avro`` DATA files a first-class ingest format beside
NDJSON/CSV/parquet/ORC: ``binaryFile`` lists the shards, an
Arrow-batched ``mapInPandas`` kernel decodes each container on the
executor that holds it — embarrassingly parallel per file. At 100 TB the unit of parallelism is the file (Avro
containers are block-compressed row streams; a shard layout of many
~128 MB files is the norm), and the decode is one linear pass each.

Schema: pass a Spark ``StructType``, or let ``infer_avro_schema``
read ONE file's self-describing header driver-side (metadata-scale)
and map the writer schema's primitives — long/int, double/float,
string, boolean, bytes, and their ``[null, T]`` unions. Nested
records are out of the declared scope (flatten upstream), matching
the flat-row interchange use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kissmetrics_to_database_spark.functions import avroc

_PRIMITIVE = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "bytes": T.BinaryType(),
}


def _field_type(avro_type) -> T.DataType:
    if isinstance(avro_type, list):  # [null, T] union
        branches = [b for b in avro_type if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported avro union {avro_type!r}")
        return _field_type(branches[0])
    if isinstance(avro_type, dict):
        avro_type = avro_type["type"]
        if avro_type in ("record", "array", "map", "enum", "fixed"):
            raise ValueError(
                f"nested avro type {avro_type!r} out of declared scope"
            )
    if avro_type not in _PRIMITIVE:
        raise ValueError(f"unsupported avro type {avro_type!r}")
    return _PRIMITIVE[avro_type]


def infer_avro_schema(sample_file: str) -> T.StructType:
    """Map one container's writer schema (flat record of primitives /
    nullable primitives) to a Spark StructType."""
    with open(sample_file, "rb") as f:
        schema, _ = avroc.read_container(f.read())
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("avro writer schema is not a record")
    return T.StructType(
        [
            T.StructField(fld["name"], _field_type(fld["type"]))
            for fld in schema["fields"]
        ]
    )


def read_avro_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sample_file: str | None = None,
) -> DataFrame:
    """Scan a directory/glob of Avro containers into a DataFrame.
    ``schema`` wins; else the header of ``sample_file`` (or the
    lexicographically first listed file) is inferred driver-side."""
    bf = spark.read.format("binaryFile").load(path)
    if schema is None:
        if sample_file is None:
            first = (
                bf.select("path").orderBy("path").limit(1).collect()
            )
            if not first:
                raise ValueError(f"no files under {path}")
            sample_file = first[0]["path"]
            if sample_file.startswith("file:"):
                sample_file = sample_file[len("file:") :]
        schema = infer_avro_schema(sample_file)
    cols = [f.name for f in schema.fields]

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                _, records = avroc.read_container(bytes(content))
                yield pd.DataFrame(records, columns=cols)

    return bf.select("content").mapInPandas(decode, schema=schema)
