"""Snapshot per-query source fingerprints for registration rotation.

The driver's correctness gate samples the FIRST 50 registered queries
each round, so queries whose code changed since their last green row
must re-enter the head of the window.  Hand-maintained reverify lists
rot; this tool mechanizes the policy (VERDICT r3 item 8):

fingerprint(query) = md5 of
  - the query function's own source text,
  - its oracle SQL (or the literal "<no-oracle>"),
  - the full source of every operator/source module the function's
    code imports or uses, directly or through the module-level helpers
    of its catalog module, and of their own imports in turn (the
    syntax-tree cone of `plans/fingerprints.py` — an operator edit
    therefore changes the fingerprint of exactly the queries that call
    into it).

Run at the START of a round, BEFORE making changes, so the committed
snapshot (`tools/query_fingerprints.json`) captures the state the
driver last certified.  `plans/catalog._reorder_registration` compares
live fingerprints to the snapshot at import time and front-loads every
query whose fingerprint is missing or different — during the round the
builder's edits accumulate into the reverify set, and the driver's
end-of-round correctness run samples exactly those first.  Regenerating
at round END would wipe the signal the driver needs.

Usage: python tools/update_fingerprints.py [--check]
  --check: exit 1 if the committed snapshot is stale (CI-style guard).
"""

from __future__ import annotations

import argparse
import json
import sys

# repo-relative so the tool can run inside a git worktree of an older
# commit (round-START snapshotting) without importing the live repo
sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))

from kissmetrics_to_database_spark.plans.fingerprints import (  # noqa: E402
    SNAPSHOT_PATH,
    compute_fingerprints,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    live = compute_fingerprints()
    if args.check:
        try:
            with open(SNAPSHOT_PATH) as f:
                committed = json.load(f)
        except FileNotFoundError:
            committed = {}
        stale = sorted(
            n for n, fp in live.items() if committed.get(n) != fp
        )
        dropped = sorted(set(committed) - set(live))
        if stale or dropped:
            print(f"stale fingerprints ({len(stale)} changed/new, "
                  f"{len(dropped)} dropped): {stale[:10]}{dropped[:10]}")
            return 1
        print(f"snapshot current ({len(live)} queries)")
        return 0

    with open(SNAPSHOT_PATH, "w") as f:
        json.dump(live, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(live)} fingerprints to {SNAPSHOT_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
