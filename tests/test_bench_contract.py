"""The bench stdout contract (r14, VERDICT r13 #5): ONE self-validated
JSON line on the real stdout. No Spark needed — these exercise the
emitter in isolation."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def _emit_to_pipe(obj):
    r, w = os.pipe()
    try:
        line = bench.emit_json_line(obj, w)
    finally:
        os.close(w)
    with os.fdopen(r, "rb") as fh:
        raw = fh.read()
    return line, raw


def test_emit_single_parseable_line():
    obj = {
        "metric": "headline-suite wall seconds (noop sink, local)",
        "value": 1.5,
        "unit": "sec",
        "queries": {"tpch_q1_pricing_summary": 1.5},
        "queries_steady": {"tpch_q1_pricing_summary": 0.5},
        "value_steady": 0.5,
        "sf": 0.1,
        "warmup_s": 2.0,
    }
    line, raw = _emit_to_pipe(obj)
    assert raw == (line + "\n").encode("utf-8")
    assert raw.count(b"\n") == 1
    assert json.loads(line) == obj


def test_emit_rejects_unserializable():
    with pytest.raises(TypeError):
        bench.emit_json_line({"bad": object()}, 2)


def test_emit_rejects_non_roundtripping():
    # NaN serializes (json.dumps default) but does not round-trip
    # equal — exactly the silent corruption the guard exists for.
    r, w = os.pipe()
    try:
        with pytest.raises(ValueError):
            bench.emit_json_line({"value": float("nan")}, w)
    finally:
        os.close(w)
        os.close(r)


def test_failed_query_has_no_steady_timing():
    calls = []

    def run(name):
        calls.append(name)
        if name == "bad":
            raise RuntimeError("boom")

    timings, steady, errors = bench.time_queries(["ok", "bad"], run)
    assert set(timings) == {"ok", "bad"}
    assert set(steady) == {"ok"}
    assert errors == {"bad": "RuntimeError: boom"}
    # the good query is rerun 3 times for its median; the failed one
    # is not retried
    assert calls == ["ok"] * 4 + ["bad"]
