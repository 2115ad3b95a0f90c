"""Data-layout operators — Z-order clustering for multi-dimensional
file pruning.

At 100 TB the fastest scan is the one that never happens: parquet
readers prune whole files/row-groups from min-max footer stats, but
stats only help if the writer CLUSTERED the data. Sorting by one
column makes that column's stats tight and every other column's
useless; interleaving the bits of several columns (Morton / Z-order)
makes every participating column's per-file range narrow at once, so
predicates on ANY of them prune.

The curve math is pure integer bit-twiddling — deterministic,
engine-portable (the DuckDB oracle runs the identical expression), and
wholly inside whole-stage codegen. The write path is the standard
Spark recipe: ``repartitionByRange(z)`` then ``sortWithinPartitions``
so each output file owns a contiguous z-range.

No reference analog (the reference loads into Redshift and lets the
warehouse sort); this is the lake-side equivalent of its
``SORTKEY``-shaped concerns (`config.php` table DDL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_interleave(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integral)
    column into one Z-value: output bit ``k*i + j`` is bit ``i`` of
    column ``j``. With k columns the result uses ``k*bits`` bits —
    keep ``k*bits <= 62`` so the BIGINT never overflows.

    A constant-unrolled projection of shift/and/or terms: no UDF, no
    shuffle, fully codegen'd.
    """
    k = len(cols)
    assert k >= 2 and k * bits <= 62, "k*bits must fit a signed long"
    terms = []
    for j, c in enumerate(cols):
        x = c.cast("long")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(x, i).bitwiseAND(F.lit(1)), k * i + j
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write parquet clustered on the Z-curve of ``zcols``: range-
    partition on the z-value (equal-ish z-ranges per output file) and
    sort within each partition, so every file owns a contiguous curve
    segment and its footer min-max is tight on EVERY z column."""
    z = morton_interleave([F.col(c) for c in zcols], bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
