#!/usr/bin/env python
"""Deterministic sf1.0 upsampler (VERDICT r6 item 1).

The driver ships testdata at sf{0.001,0.01,0.1} only; the scaling
curve needs one decade more. This builds an sf1.0-SHAPED dataset by
replicating sf0.1 ten times with consistent key strides:

- every entity key (custkey, orderkey, partkey, suppkey, event_id,
  user_id, doc_id) shifts by copy * (max_key + 1), and every
  FOREIGN key shifts by the same stride, so join fan-outs and per-key
  densities are IDENTICAL to sf0.1 — only cardinalities grow 10x
  (rows AND distinct keys, the way a real corpus grows);
- the fixed dimensions (region=5, nation=25) stay fixed, exactly as
  TPC-H keeps them across scale factors;
- document text gets a per-copy suffix token (' c<copy>') so copies
  are NEAR-duplicates (a realistic ~10-member near-dup cluster
  density for a web corpus) rather than exact duplicates that would
  trivialize exact dedup; n_chars is recomputed;
- timestamps replicate unchanged: volume growth shows up as 10x
  density per time window, not a longer history.

Known fidelity limits (documented in SCALING_CURVE.md): the text
VOCABULARY grows by only ~10 suffix tokens instead of Heaps-law
growth, so trainer-iteration costs stay near-constant while encode
costs scale; and near-dup pair counts grow ~linearly with a fixed
cluster size of ~10.

Usage: python tools/make_sf1.py [--src /root/testdata/sf0.1]
                                [--dst /tmp/sf1.0] [--copies 10]
"""

from __future__ import annotations

import argparse
import os

import duckdb

COPY_TABLES = ["region", "nation"]

# table -> (key columns to stride by their own entity's stride)
STRIDED = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
}

# entity -> (table, key column) to measure the stride from
ENTITY_SOURCE = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/sf1.0")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    con = duckdb.connect()

    strides = {}
    for ent, (tbl, col) in ENTITY_SOURCE.items():
        mx = con.execute(
            f"SELECT max({col}) FROM '{args.src}/{tbl}.parquet'"
        ).fetchone()[0]
        strides[ent] = int(mx) + 1
    print("strides:", strides)

    for t in COPY_TABLES:
        con.execute(
            f"COPY (SELECT * FROM '{args.src}/{t}.parquet') TO "
            f"'{args.dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "copied")

    for t, keymap in STRIDED.items():
        cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM '{args.src}/{t}.parquet'"
            ).fetchall()
        ]
        sel = []
        for c in cols:
            if c in keymap:
                stride = strides[keymap[c]]
                # NULL keys (events.user_id) must stay NULL
                sel.append(f"{c} + cp * {stride} AS {c}")
            elif t == "documents" and c == "text":
                sel.append("text || ' c' || CAST(cp AS VARCHAR) AS text")
            elif t == "documents" and c == "n_chars":
                sel.append(
                    "CAST(length(text || ' c' || CAST(cp AS VARCHAR)) "
                    "AS BIGINT) AS n_chars"
                )
            else:
                sel.append(c)
        q = (
            f"COPY (SELECT {', '.join(sel)} "
            f"FROM '{args.src}/{t}.parquet', "
            f"unnest(range(0, {args.copies})) AS u(cp) "
            f"ORDER BY {list(keymap)[0]}) "
            f"TO '{args.dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.execute(q)
        n = con.execute(
            f"SELECT count(*) FROM '{args.dst}/{t}.parquet'"
        ).fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
