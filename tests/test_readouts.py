"""The product readouts on hand-built tables: each query's rows against
its DuckDB oracle (``catalog.ORACLES``), on the edges of the window and
aggregate plans that replaced their self-joins, and the number of Spark
jobs each runs on a warm ``session.cache_tables`` session."""

from __future__ import annotations

import sys
from datetime import datetime, timedelta
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kissmetrics_to_database_spark.plans import catalog
from tests.test_session import _cached, _jobs_and_plan

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from oracle_check import compare  # noqa: E402

EVENT_QUERIES = (
    "funnel_conversion",
    "attribution_linear",
    "retention_cohorts",
    "dau_mau_stickiness",
)
T = datetime(2024, 1, 10, 12, 0, 0)
DAY = timedelta(days=1)


def _events(*rows, null_ids=()) -> pa.Table:
    """``events`` from ``(user_id, ts, event_type, value)`` rows, with
    event ids in row order, NULL at the row indexes ``null_ids``."""
    cols = list(zip(*rows))
    ids = [None if i in null_ids else i + 1 for i in range(len(rows))]
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[0], pa.int64()),
            "event_type": pa.array(cols[2], pa.string()),
            "value": pa.array(cols[3], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


# the funnel's edges, a user with a single event and a month with a
# single day (February)
FUNNEL = _events(
    # user 1 reaches every step: a click at the first view's ts does
    # not count, the purchase lands exactly on t1 + 7 days
    (1, T, "view", 0.0),
    (1, T, "click", 0.0),
    (1, T + timedelta(hours=1), "click", 0.0),
    (1, T + 2 * DAY, "signup", 0.0),
    (1, T + 7 * DAY, "purchase", 20.0),
    (1, T + 3 * DAY, "view", 0.0),
    # user 2: a click before the first view, none after it
    (2, T - DAY, "click", 0.0),
    (2, T, "view", 0.0),
    (2, T + DAY, "signup", 0.0),
    # user 3: a click 1 s past the 7 days, a purchase inside them
    (3, T, "view", 0.0),
    (3, T + 7 * DAY + timedelta(seconds=1), "click", 0.0),
    (3, T + DAY, "purchase", 12.5),
    # user 4: a click exactly on t1 + 7 days (it counts) and a signup
    # at the same ts as the click (not after it)
    (4, T + DAY, "view", 0.0),
    (4, T + 8 * DAY, "click", 0.0),
    (4, T + 8 * DAY, "signup", 0.0),
    (4, T + 8 * DAY, "error", 0.0),
    # user 5: one event, alone in its week and on its day
    (5, datetime(2024, 2, 14, 9, 30), "purchase", 7.25),
    # NULL users are in no readout; a NULL ts is a view but no step
    # time, and a week and a day of no cohort and no month
    (None, T, "view", 0.0),
    (6, None, "view", 0.0),
    (1, None, "error", 0.0),
)

# every purchase has a touch, none of them a view, and one purchase
# has a NULL value; a touch with a NULL id is no touch
ALL_TOUCHED = _events(
    (1, T, "click", 0.0),
    (1, T, "view", 0.0),
    (1, T + DAY, "purchase", 10.0),
    (1, T + 2 * DAY, "purchase", None),
    (2, T, "click", 0.0),
    (2, T + timedelta(hours=3), "click", 0.0),
    (2, T + 6 * DAY, "purchase", 0.03),
    (3, T - 2 * DAY, "click", 0.0),
    (3, T + 5 * DAY - timedelta(seconds=1), "purchase", 33.33),
    null_ids=(1,),
)


def _q21_tables() -> dict[str, pa.Table]:
    d0 = datetime(1996, 3, 1)
    late, ontime = d0 + 90 * DAY, d0 + 10 * DAY
    lines = [
        # order 1: every supplier late
        (1, 1, late), (1, 2, late),
        # order 2: one supplier, late; a NULL supplier is no co-supplier
        (2, 3, late), (2, None, ontime),
        # order 3: supplier 1 late, supplier 2 on time
        (3, 1, late), (3, 2, ontime),
        # order 4: supplier 3 late on one line of two, supplier 1 on time
        (4, 3, ontime), (4, 3, late), (4, 1, ontime),
        # order 5: not finalized
        (5, 2, late), (5, 1, ontime),
    ]
    ok, sk, ship = zip(*lines)
    return {
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(ok, pa.int64()),
                "l_suppkey": pa.array(sk, pa.int64()),
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "o_orderstatus": pa.array(["F", "F", "F", "F", "O"]),
                "o_orderdate": pa.array([d0] * 5, pa.timestamp("us")),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3], pa.int64()),
                "s_name": pa.array(["Supplier#1", "Supplier#2", "Supplier#3"]),
            }
        ),
    }


CASES = {
    "funnel": ({"events": FUNNEL}, EVENT_QUERIES),
    "all_touched": ({"events": ALL_TOUCHED}, EVENT_QUERIES),
    "q21": (_q21_tables(), ("tpch_q21_waiting_suppliers",)),
}


def _write(tmp_path, tables: dict[str, pa.Table]) -> str:
    for name, table in tables.items():
        pq.write_table(table, tmp_path / f"{name}.parquet")
    return str(tmp_path)


def _oracle_problems(spark, sf_dir: str, tables, name: str) -> list[str]:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.sql(catalog.ORACLES[name])
    duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    sdf = catalog.QUERIES[name](spark, sf_dir).toPandas()
    return compare(name, sdf, rel.df(), duck_types)


@pytest.mark.parametrize("case", sorted(CASES))
def test_readouts_match_their_oracle(spark, tmp_path, case):
    tables, queries = CASES[case]
    sf_dir = _write(tmp_path, tables)
    for name in queries:
        assert _oracle_problems(spark, sf_dir, tables, name) == [], name


def test_readout_edges(spark, tmp_path):
    # the oracle check above passes on agreement; pin what it agrees on
    sf_dir = _write(tmp_path, {"events": FUNNEL, **_q21_tables()})
    rows = catalog.QUERIES["funnel_conversion"](spark, sf_dir).collect()
    assert [r["n_users"] for r in rows] == [5, 2, 1, 1]
    cohorts = catalog.QUERIES["retention_cohorts"](spark, sf_dir).collect()
    assert ("2024-02-12", 0, 1, 1) in [tuple(r)[:4] for r in cohorts]
    months = catalog.QUERIES["dau_mau_stickiness"](spark, sf_dir).collect()
    assert [tuple(r)[1:] for r in months if r["month"].month == 2] == [(1, 1, 1, 1.0)]
    got = catalog.QUERIES["tpch_q21_waiting_suppliers"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [("Supplier#1", 1), ("Supplier#3", 1)]
    touched = tmp_path / "all_touched"
    touched.mkdir()
    sf_dir = _write(touched, {"events": ALL_TOUCHED})
    got = catalog.QUERIES["attribution_linear"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [("click", 43.36, 5), ("direct", 0.0, 0)]


def test_warm_readouts_run_in_few_spark_jobs(spark, tmp_path):
    # each readout takes its per-key state from a window or one
    # aggregate over the key it groups by; joining a per-key
    # aggregate back to the events ran 3 to 10 jobs per readout
    tables = {"events": FUNNEL, **_q21_tables()}
    sf_dir = _write(tmp_path, tables)
    most = {
        "funnel_conversion": 1,
        "retention_cohorts": 1,
        "dau_mau_stickiness": 1,
        "attribution_linear": 2,
        "tpch_q21_waiting_suppliers": 3,
    }
    with _cached(spark, sf_dir, *tables):
        for name, limit in most.items():
            df = catalog.QUERIES[name](spark, sf_dir)
            _, jobs, plan = _jobs_and_plan(spark, df, f"{name}-{tmp_path.name}")
            assert jobs <= limit, (name, jobs, plan)
