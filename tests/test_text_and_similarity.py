"""Span-dedup unit test against pure-Python ground truth."""

from __future__ import annotations


def test_span_dedup_stats_first_occurrence_wins(spark):
    from kissmetrics_to_database_spark.operators import dedup

    boiler = "one two three four five"
    docs = [
        (0, boiler + " unique tail zero alpha beta"),
        (1, boiler + " other ending here gamma delta"),  # repeats doc0's leading span
        (2, "totally different words without any repeats at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in dedup.span_dedup_stats(df, n=5).collect()}

    # doc0 owns the boilerplate span (first occurrence): zero dups
    assert out[0]["n_dup_spans"] == 0 and out[0]["keep"]
    # doc1's copy of the span counts as duplicated
    assert out[1]["n_dup_spans"] == 1
    assert out[1]["n_spans"] == len(docs[1][1].split()) - 4
    assert out[2]["n_dup_spans"] == 0
    # ratio arithmetic
    assert out[1]["dup_ratio"] == round(1 / out[1]["n_spans"], 6)
