"""Z-order layout: Morton interleave parity + clustered-write pruning."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kissmetrics_to_database_spark.operators import layout


def _morton_py(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_matches_python_reference(spark):
    pts = [(i * 131 % 1024, i * 197 % 1024) for i in range(200)]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = df.select(
        "x", "y", layout.morton_interleave([F.col("x"), F.col("y")], 16).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _morton_py(r["x"], r["y"])


def test_morton_three_columns(spark):
    df = spark.createDataFrame([(5, 3, 7)], ["a", "b", "c"])
    [r] = df.select(
        layout.morton_interleave(
            [F.col("a"), F.col("b"), F.col("c")], 4
        ).alias("z")
    ).collect()
    z = 0
    for i in range(4):
        z |= ((5 >> i) & 1) << (3 * i)
        z |= ((3 >> i) & 1) << (3 * i + 1)
        z |= ((7 >> i) & 1) << (3 * i + 2)
    assert r["z"] == z


def test_zordered_write_gives_two_dim_locality(spark, tmp_path):
    # uniform 64x64 grid -> 4 z-range files = exactly the 4 curve
    # quadrants: every file's span on BOTH dims is half the global
    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = str(tmp_path / "zordered")
    layout.write_zordered(df, out, ["x", "y"], bits=6, n_files=4)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    import duckdb

    con = duckdb.connect()
    stats = [
        con.sql(
            f"SELECT min(x), max(x), min(y), max(y), count(*) FROM '{f}'"
        ).fetchone()
        for f in files
    ]
    assert sum(s[4] for s in stats) == 4096
    # range-partition boundaries come from sampling, so files only
    # APPROXIMATE the curve quadrants — but the balance and locality
    # invariants hold: near-equal sizes, and combined per-file span
    # far below the unclustered 63+63
    assert all(700 <= s[4] <= 1400 for s in stats)
    assert min((s[1] - s[0]) + (s[3] - s[2]) for s in stats) <= 64
    assert all((s[1] - s[0]) + (s[3] - s[2]) <= 110 for s in stats)

    # footer-stat pruning: with no clustering every predicate touches
    # all 4 files on each dim (8 total); z-order keeps it well below
    overlap_x = sum(1 for s in stats if s[0] < 16)
    overlap_y = sum(1 for s in stats if s[2] < 16)
    assert overlap_x + overlap_y <= 6


def test_zordered_single_column_sort_lacks_y_locality(spark, tmp_path):
    # contrast: sorting by x alone leaves y's per-file span global —
    # the reason z-order exists
    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = str(tmp_path / "xsorted")
    df.repartitionByRange(4, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(out)
    import duckdb

    con = duckdb.connect()
    spans = [
        con.sql(f"SELECT max(y) - min(y) FROM '{f}'").fetchone()[0]
        for f in sorted(glob.glob(out + "/part-*.parquet"))
    ]
    assert all(s == 63 for s in spans)
