"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...},
   "queries_steady": {name: sec, ...}, "value_steady": <sec>,
   "sf": <scale factor>}

Each query is materialized through the noop sink (full column
evaluation, no driver collect) so timings reflect the whole plan.
Queries come straight from the declared catalog — the bench surface
IS the correctness surface.

Two timings per query (round-4 bisect of the `minhash_lsh_near_dups`
"drift"): the FIRST run of a plan pays one-off driver/JVM costs —
Catalyst planning, whole-stage-codegen compilation, JIT — which for
wide expression trees dominate the measurement (6.0 s first run vs a
stable 2.0 s median over the next runs at sf0.1) and jitter with JVM
state, which is what moved 4.9→5.0→5.6 s across rounds with an
unchanged plan.  `queries` keeps the historical one-shot numbers
(comparable to BENCH_r01-r03); `queries_steady` is the median of 3
subsequent runs — the number that tracks throughput at scale, where
compilation amortizes to zero. A query that fails has no
`queries_steady` entry; its time-to-failure stays in `queries` and its
error in `errors`.

Stdout contract hardening (r14, VERDICT r13 #5): the REAL stdout is
reserved at startup for the single JSON result line (fd dup'd before
the JVM launches; fd 1 is then pointed at stderr for the whole run),
and the final line is self-validated with ``json.loads`` before being
written — a stray JVM/log write can no longer invalidate a round's
PERF comparison. ``warmup_s`` (additive field, r14) reports the
untimed warm-up cost (JVM + table cache build) so the cache layout's
price is visible in the output (VERDICT r13 #3/#8).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kissmetrics_to_database_spark.session import cache_tables, get_spark  # noqa: E402

# Headline set: scan-heavy agg, star joins (incl. the join-heavy
# TPC-H Q2/Q9/Q18/Q21 so regressions in the expensive plans are
# visible round-over-round), iterative identity CC, near-dup suite,
# windows. Chosen to cover every subsystem while
# staying O(n log n) at any SF (no all-pairs ops).
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "row_fingerprint",
    "identity_components",
    "broadcast_lookup_join",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "time_proximity_pairs",
    "sessionization",
    "tumbling_window_hourly",
    "top_spenders_per_type",
    "asof_last_signup",
    "cube_agg",
    # round-2 span dedup suite
    "span_dedup",
    "source_quota_cap",
    # round-2 sketch suite (fixed-size-state operators)
    "cms_heavy_hitters",
    "hll_event_users",
    "bloom_novel_docs",
    "histogram_quantiles",
    # round-2 layout / graph / sampling
    "zorder_layout",
    "event_burst_triangles",
    "weighted_doc_sample",
    "identity_pagerank",
    # round-2 BPE pair counts / sequence-assembly / incremental-ingest suite
    "bpe_pair_counts",
    "behavior_sequences",
    "event_transition_matrix",
    "epoch_shuffle",
    "incremental_ingest_dedup",
    # round-4 collocation / SCD2 / selection / conditioning suite
    "pmi_collocations",
    "kn_continuation_stats",
    "kn_bigram_scores",
    "scd2_from_change_log",
    "scd2_merge_batch",
    "scd2_point_in_time",
    "dsir_logratio_weights",
    "robust_scale",
    "cdc_chunk_dedup",
    "event_rate_anomalies",
    # round-5 additions
    "salted_join_skewed",
    "cdc_dedup_rewrite",
    "winnow_containment",
    "identity_communities",
    "ewma_rate_anomalies",
    "lsh_recall_eval",
    "burst_exposure_overlap",
    "temporal_split_audit",
    "key_skew_report",
    # round-6 additions
    "exact_substring_spans",
    "exact_substring_rewrite",
    "exact_substring_ingest_spans",
    "corpus_snapshot_diff",
    "decontamination_spans",
    # round-8 additions
    "ccnet_line_dedup",
    "dup_cluster_representatives",
    "mixture_epochs_plan",
    "edit_distance_pairs",
    "tombstone_cluster_scrub",
    "simhash_precision_eval",
    # round-9 additions
    "delta_time_travel",
    "delta_snapshot_by_lang",
    "iceberg_time_travel",
    "iceberg_snapshot_by_source",
    "k_anonymity_audit",
    "hll_user_overlap",
    "avro_scan_aggregate",
    "record_linkage_pairs",
    "linkage_em_params",
    "linkage_blocking_recall",
    "dp_noisy_counts",
    "retention_cohorts",
    "attribution_linear",
    # round-10 additions
    "attribution_position",
    "attribution_time_decay",
    "iceberg_mor_deletes",
    "delta_column_mapping",
    "funnel_conversion",
    "dau_mau_stickiness",
    "iceberg_equality_deletes",
    "delta_deletion_vectors",
    "ab_test_lift",
    # round-11 additions
    "delta_cdf_tail",
    "delta_writer_roundtrip",
    "delta_optimize_roundtrip",
    "iceberg_writer_roundtrip",
    # round-11 continuation: lakehouse DML + Hudi + quality gate
    "delta_delete_dml",
    "delta_merge_dml",
    "delta_update_dml",
    "delta_data_skipping",
    "iceberg_delete_dml",
    "iceberg_merge_dml",
    "iceberg_update_dml",
    "hudi_snapshot_read",
    "hudi_time_travel",
    "hudi_incremental_pull",
    "data_quality_audit",
    # round 12: Iceberg skipping, MERGE dup-key semantics, Hudi MoR
    "iceberg_data_skipping",
    "delta_merge_dup_key_targets",
    "hudi_mor_read",
    "hudi_mor_time_travel_and_incremental",
    "iceberg_partitioned_write",
    "iceberg_optimize_roundtrip",
    "hudi_writer_roundtrip",
    "hudi_mor_writer_roundtrip",
    "iceberg_transform_partitioned_write",
    "iceberg_schema_evolution_append",
    "delta_dml_on_dv_and_mapped",
    "delta_dv_delete_native",
]


def time_queries(
    names: list[str], run: Callable[[str], None]
) -> tuple[dict[str, float], dict[str, float], dict[str, str]]:
    """Time ``run(name)`` for each query: the first run, then the
    median of 3 reruns. Returns ``(timings, steady, errors)``.

    One failing query must not destroy the whole run's output (r14;
    the contract is ONE stdout JSON line — a mid-run crash used to
    leave nothing to parse, the exact failure mode the r12 PERF
    comparison died of). A failed query records its time-to-failure
    in ``timings`` (entries are never removed) and names its error in
    ``errors``; it gets no ``steady`` entry, because a time-to-failure
    is not a steady-state timing."""
    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        print(f"bench: {name}", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        try:
            run(name)
        except Exception as e:  # noqa: BLE001 — record, keep measuring
            timings[name] = round(time.perf_counter() - t0, 3)
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"bench: {name} FAILED: {errors[name]}",
                  file=sys.stderr, flush=True)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        reruns = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(name)
            reruns.append(time.perf_counter() - t0)
        steady[name] = round(statistics.median(reruns), 3)
        # stream each query's numbers as JSONL to stderr so a killed
        # run is salvageable (the final stdout JSON is unchanged)
        print(
            json.dumps(
                {"q": name, "first": timings[name], "steady": steady[name]}
            ),
            file=sys.stderr,
            flush=True,
        )
    return timings, steady, errors


def emit_json_line(obj: dict, fd: int) -> str:
    """Serialize ``obj``, SELF-VALIDATE it round-trips through
    ``json.loads``, and write it as one newline-terminated line to
    ``fd`` (r14, VERDICT r13 #5: the driver's r12 bench was lost to
    an unparseable stdout — `BENCH_r12.json` `parsed: null` — so the
    stdout contract is now enforced, not hoped for). Returns the
    line."""
    line = json.dumps(obj)
    parsed = json.loads(line)  # raises on emitter bugs
    if parsed != obj:
        raise ValueError("bench result does not round-trip JSON")
    if "\n" in line:
        raise ValueError("bench result is not a single line")
    os.write(fd, (line + "\n").encode("utf-8"))
    return line


def main() -> None:
    # Reserve the REAL stdout for the one JSON result line and point
    # fd 1 at stderr for everything else — including the JVM, which
    # inherits fd 1 at launch, so no Spark/log write can ever corrupt
    # the driver-parsed stdout again (VERDICT r13 #5). Must happen
    # BEFORE get_spark() forks the JVM.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from kissmetrics_to_database_spark.plans import catalog

    spark = get_spark("bench")
    # Warm-up: JVM + parquet footers, then materialize the tables as
    # a partitioned in-memory cache. The testdata ships one row group
    # per table — Spark's minimum split unit — so cold scans are
    # single-task; the cache stands in for the many-file layout a
    # real lake would have (see session.cache_tables). The warm-up is
    # untimed by design (classic warm-cache benchmarking), but its
    # cost is REPORTED in the output (warmup_s — VERDICT r13 #3/#8:
    # the cache layout shapes timed plans, so its build cost must be
    # visible, not silent).
    t_warm = time.perf_counter()
    catalog.QUERIES["count_tables"](spark, sf_dir).collect()
    cache_tables(spark, sf_dir)
    warmup_s = round(time.perf_counter() - t_warm, 3)

    # SPARK_GRAFT_BENCH_ONLY=a,b,c re-measures a subset with the
    # identical methodology (same warm-up, cache, noop sink, steady
    # medians) — for same-session splices after a targeted plan
    # change, so unchanged queries keep their full-run numbers.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = [n for n in HEADLINE if not only or n in only.split(",")]

    def run(name: str) -> None:
        fn = catalog.QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings, steady, errors = time_queries(names, run)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline-suite wall seconds (noop sink, local)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "value_steady": round(sum(steady.values()), 3),
        "sf": sf,
        "warmup_s": warmup_s,
    }
    if errors:
        out["errors"] = errors
    emit_json_line(out, result_fd)
    spark.stop()


if __name__ == "__main__":
    main()
