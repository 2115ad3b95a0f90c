"""Local replica of the driver's correctness gate.

Runs every catalog query through Spark AND its oracle SQL through
DuckDB on the same parquet tables, then compares row count, column
names, and values (columns sorted by name, rows sorted by all
columns — order-insensitive, exact equality; floats must match to the
last bit, which the catalog guarantees by construction).

With ``--warm`` the tables are first cached with
``session.cache_tables``, so the queries run on the warm layout the
benchmarks serve from (one partition per small table) instead of the
cold parquet scans.

Usage: python tools/oracle_check.py [--sf <testdata dir>] [--only name] [--warm]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kissmetrics_to_database_spark.session import (  # noqa: E402
    TABLES,
    cache_tables,
    get_spark,
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # unify timestamp-ish dtypes to microsecond precision, naive
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def dtype_problems(
    sdf: pd.DataFrame, ddf: pd.DataFrame, duck_types: dict[str, str]
) -> list[str]:
    """Dtype-strict checks the driver's value-hash is sensitive to but
    pandas coercion hides.

    DuckDB ``sum(BIGINT)`` returns HUGEINT (INT128); the driver renders
    it differently from Spark's LongType even when values are equal, so
    an uncast integer ``sum()`` in an oracle passes a pandas-coerced
    comparison locally while failing the driver (round-2
    ``corpus_source_profile`` red).  Flag (a) any HUGEINT surfacing in
    oracle output, and (b) integer-vs-float dtype family drift between
    the two pandas frames.
    """
    problems = []
    for col, t in duck_types.items():
        if "HUGEINT" in t.upper():
            problems.append(
                f"col {col!r}: oracle returns {t} — CAST the aggregate "
                f"to BIGINT so the driver's value-hash matches Spark"
            )
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        s_kind = sdf[c].dtype.kind
        d_kind = ddf[c].dtype.kind
        # int-vs-float drift is real unless caused by NULL→NaN coercion
        # (a nullable int column converts to float64 exactly when that
        # side actually holds NULLs).
        if (
            s_kind in "iuf"
            and d_kind in "iuf"
            and (s_kind in "iu") != (d_kind in "iu")
            and not (
                (s_kind == "f" and sdf[c].isna().any())
                or (d_kind == "f" and ddf[c].isna().any())
            )
        ):
            problems.append(
                f"col {c!r}: dtype family drift spark={sdf[c].dtype} "
                f"duck={ddf[c].dtype}"
            )
    return problems


def compare(
    name: str,
    sdf: pd.DataFrame,
    ddf: pd.DataFrame,
    duck_types: dict[str, str] | None = None,
) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    problems.extend(dtype_problems(sdf, ddf, duck_types or {}))
    if len(sdf) != len(ddf):
        problems.append(f"row count differs: spark={len(sdf)} duck={len(ddf)}")
        return problems
    s, d = normalize(sdf), normalize(ddf)
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        n_bad = 0
        first_bad = None
        for i, (x, y) in enumerate(zip(sv, dv)):
            if not values_equal(x, y):
                n_bad += 1
                if first_bad is None:
                    first_bad = (i, x, y)
        if n_bad:
            problems.append(
                f"col {c!r}: {n_bad}/{len(sv)} mismatches; first at row "
                f"{first_bad[0]}: spark={first_bad[1]!r} duck={first_bad[2]!r}"
            )
    return problems


def _bounds_approx_aggregates(sdf: pd.DataFrame, con) -> list[str]:
    """Statistical bounds check for the suite's only sketch query
    (VERDICT r8 #5): sketch outputs are engine-specific, but they are
    NOT unfalsifiable — HLL++ publishes an error bound and
    percentile_approx a rank-error contract, both checkable against
    DuckDB's exact values.

    - approx_users: Spark's approx_count_distinct is HLL++ with
      default rsd = 0.05; require |approx − exact| ≤ 3·rsd·exact
      (the ≈99.7% band — and the sketch is deterministic per dataset,
      so a pass is stable, not a coin flip).
    - approx_p50: percentile_approx (rank-error sketch, default
      accuracy 10000 → ε = 1e-4) must land inside the exact value
      band of ranks [0.5−B, 0.5+B], B = max(2ε, 1.5/N) (at small N
      the ±2ε band is narrower than one rank, so widen to ±1 rank).
    - exact_users / exact_p50 anchor columns: compared exactly.
    """
    problems = []
    row = sdf.iloc[0]
    ex_u, ex_p, n = con.sql(
        "SELECT CAST(count(DISTINCT user_id) AS BIGINT),"
        " round(quantile_cont(value, 0.5), 2), count(*) FROM events"
    ).fetchone()
    if int(row["exact_users"]) != int(ex_u):
        problems.append(f"exact_users {row['exact_users']} != duck {ex_u}")
    if abs(float(row["exact_p50"]) - float(ex_p)) > 0.005 + 1e-9:
        problems.append(f"exact_p50 {row['exact_p50']} != duck {ex_p}")
    tol = 3 * 0.05 * int(ex_u)
    if abs(int(row["approx_users"]) - int(ex_u)) > tol:
        problems.append(
            f"approx_users {row['approx_users']} outside ±3σ of exact "
            f"{ex_u} (tol {tol:.1f})"
        )
    band = max(2e-4, 1.5 / int(n))
    lo, hi = con.sql(
        f"SELECT quantile_disc(value, {max(0.0, 0.5 - band)}),"
        f" quantile_disc(value, {min(1.0, 0.5 + band)}) FROM events"
    ).fetchone()
    if not (float(lo) - 0.005 <= float(row["approx_p50"]) <= float(hi) + 0.005):
        problems.append(
            f"approx_p50 {row['approx_p50']} outside exact rank band "
            f"[{lo}, {hi}]"
        )
    return problems


# Queries with no exact SQL oracle but a statistical bounds validator:
# name -> fn(spark_result_pandas, duckdb_con) -> list of problems.
BOUNDS_CHECKS = {"approx_aggregates": _bounds_approx_aggregates}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--warm", action="store_true", help="serve the tables from cache_tables"
    )
    args = ap.parse_args()

    from kissmetrics_to_database_spark.plans import catalog  # noqa: E402

    spark = get_spark("oracle_check")
    if args.warm:
        cache_tables(spark, args.sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    only = set(args.only.split(",")) if args.only else None
    n_pass = n_fail = n_noracle = 0
    for name, fn in catalog.QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in catalog.ORACLES:
            bc = BOUNDS_CHECKS.get(name)
            if bc is None:
                print(f"-     {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
                n_noracle += 1
                continue
            problems = bc(sdf, con)
            if problems:
                n_fail += 1
                print(f"FAIL  {name} (bounds) [{time.time()-t0:.1f}s]")
                for p in problems:
                    print(f"      {p}")
            else:
                n_pass += 1
                print(
                    f"pass  {name} (bounds-checked, rows={len(sdf)}) "
                    f"[{time.time()-t0:.1f}s]"
                )
            continue
        try:
            rel = con.sql(catalog.ORACLES[name])
            duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
            ddf = rel.df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf, duck_types)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"pass  {name} (rows={len(sdf)}) [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} oracle-less")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
