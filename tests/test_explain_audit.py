"""Unit tests for the plan-audit helpers (tools/explain_audit.py).

The catalog-wide unbounded-global-window sweep is itself a guarded
invariant — ADVICE r3 found the r3 version's strict node adjacency
missed real single-task windows when Catalyst interposes a Project or
WindowGroupLimit. These tests pin the detector's semantics on
synthetic formatted-plan text (no Spark session needed)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from explain_audit import has_unbounded_global_window  # noqa: E402


def _plan(*nodes: str) -> str:
    lines = []
    for i, n in enumerate(nodes, 1):
        name, _, args = n.partition("|")
        lines.append(f"({i}) {name}")
        if args:
            lines.append(f"Arguments: {args}")
    return "\n".join(lines)


def test_detects_adjacent_chain():
    assert has_unbounded_global_window(
        _plan("Scan", "Exchange|SinglePartition", "Sort", "Window")
    )


def test_detects_interposed_project_and_windowgrouplimit():
    # the ADVICE r3 false negative: Spark 3.5+ rank-filter plans put
    # WindowGroupLimit (and often a Project) between Sort and Window
    assert has_unbounded_global_window(
        _plan(
            "Exchange|SinglePartition",
            "Sort",
            "WindowGroupLimit",
            "Window",
        )
    )
    assert has_unbounded_global_window(
        _plan("Exchange|SinglePartition", "Project", "Sort", "Window")
    )


def test_hash_partitioned_window_is_clean():
    assert not has_unbounded_global_window(
        _plan("Exchange|hashpartitioning(doc_id, 32)", "Sort", "Window")
    )


def test_single_partition_aggregate_is_clean():
    # 1-row total aggregates legitimately exchange to a single
    # partition; a HashAggregate ends the chain before any Window
    assert not has_unbounded_global_window(
        _plan(
            "Exchange|SinglePartition",
            "HashAggregate",
            "Window",
        )
    )


def test_lookahead_is_bounded():
    # a Window far beyond the lookahead horizon (all passthrough
    # nodes) is NOT attributed to the exchange
    assert not has_unbounded_global_window(
        _plan(
            "Exchange|SinglePartition",
            "Project",
            "Project",
            "Project",
            "Project",
            "Window",
        ),
        lookahead=4,
    )
