"""r13 optimization-round profiler: per-query timings + formatted plans.

Mirrors bench.py's methodology exactly (get_spark, cache_tables
warm-up, noop sink, first run + median of 3 steady reruns) for a
NAMED subset of queries, and additionally writes each query's
`.explain("formatted")` output to plans/r13/<query>_<tag>.txt — the
before/after evidence the optimization round must commit.

Run:  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      python tools/profile_r13.py --tag before q1 q2 ...
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kissmetrics_to_database_spark.session import (  # noqa: E402
    cache_tables,
    get_spark,
)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="before | after | <label>")
    ap.add_argument("--out", default="plans/r13")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(args.out, exist_ok=True)

    from kissmetrics_to_database_spark.plans import catalog

    spark = get_spark("profile-r13")
    catalog.QUERIES["count_tables"](spark, sf_dir).collect()
    cache_tables(spark, sf_dir)

    for name in args.names:
        fn = catalog.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        first = round(time.perf_counter() - t0, 3)
        reruns = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reruns.append(time.perf_counter() - t0)
        steady = round(statistics.median(reruns), 3)
        spark.sparkContext.setJobDescription(None)
        if not args.no_plan:
            plan = formatted_plan(fn(spark, sf_dir))
            with open(
                os.path.join(args.out, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        print(
            json.dumps({"q": name, "first": first, "steady": steady}),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
